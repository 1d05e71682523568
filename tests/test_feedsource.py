"""`snapshotfeed` streaming-source tests: a snapshot table tailed as a
Structured Streaming source must deliver the initial snapshot (deletion-
vector aware) exactly once, tail appended commits across checkpoint
restarts without re-emission, skip content-preserving maintenance, and
fail loudly (or skip, under the option) on change commits — the Delta
table-streaming contract re-expressed for the repo's commit protocol."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from f1_data_pipeline_spark.ingest import feedsource
from f1_data_pipeline_spark.storage import (
    snapshot_append,
    snapshot_delete,
    snapshot_optimize,
    snapshot_restamp,
    snapshot_upsert,
    snapshot_write,
)


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )


def _run(spark, tdir, out, ckpt, **options):
    feedsource.register(spark)
    reader = spark.readStream.format("snapshotfeed")
    for k, v in options.items():
        reader = reader.option(k, v)
    q = (
        reader.load(str(tdir))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.read.schema("k long, v double").parquet(str(out))


def test_snapshot_then_tail_exactly_once(spark, tmp_path):
    tdir, out, ckpt = tmp_path / "tbl", tmp_path / "out", tmp_path / "ck"
    snapshot_write(_batch(spark, 0, 100).repartition(4), str(tdir), stats_cols=["k"])
    snapshot_append(_batch(spark, 100, 150), str(tdir))
    # DV-delete BEFORE the stream starts: the initial snapshot must
    # already exclude tombstoned rows
    snapshot_delete(spark, str(tdir), [("k", ">=", 140)], mode="dv")

    got = _run(spark, tdir, out, ckpt)
    assert got.count() == 140
    assert got.agg(F.max("k")).head()[0] == 139

    # tail: two appends with content-preserving maintenance in between —
    # the stream must deliver ONLY the appended rows, exactly once
    snapshot_append(_batch(spark, 200, 210), str(tdir))
    snapshot_optimize(spark, str(tdir), target_file_bytes=1 << 30)
    snapshot_restamp(spark, str(tdir), {"note": "maintenance"})
    snapshot_append(_batch(spark, 300, 305), str(tdir))
    got = _run(spark, tdir, out, ckpt)
    assert got.count() == 140 + 10 + 5
    assert got.where((F.col("k") >= 200) & (F.col("k") < 210)).count() == 10

    # idempotent restart with nothing new: zero re-emission
    got = _run(spark, tdir, out, ckpt)
    assert got.count() == 155


def test_change_commit_fails_unless_skipped(spark, tmp_path):
    tdir, out, ckpt = tmp_path / "tbl", tmp_path / "out", tmp_path / "ck"
    snapshot_write(_batch(spark, 0, 50), str(tdir), stats_cols=["k"])
    _run(spark, tdir, out, ckpt)

    # an upsert rewrites a file: not expressible as a row tail
    snapshot_upsert(
        spark,
        str(tdir),
        _batch(spark, 0, 1).withColumn("v", F.lit(-1.0)),
        key="k",
    )
    feedsource.register(spark)
    q = (
        spark.readStream.format("snapshotfeed")
        .load(str(tdir))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="CHANGE commit|STREAM_FAILED"):
        q.awaitTermination(180)

    # skipChangeCommits: the failed WAL batch replays first, skipping the
    # upsert (zero rows); the engine's single-batch fallback for Python
    # sources processes one batch per run, so the later append lands on
    # the NEXT run — exactly-once across both
    snapshot_append(_batch(spark, 500, 503), str(tdir))
    got = _run(spark, tdir, out, ckpt, skipChangeCommits="true")
    assert got.count() == 50  # the replayed span nets to zero new rows
    got = _run(spark, tdir, out, ckpt, skipChangeCommits="true")
    assert got.count() == 53  # 50 initial + 3 appended; upsert skipped


def test_starting_version_replays_appends_only(spark, tmp_path):
    tdir, out, ckpt = tmp_path / "tbl", tmp_path / "out", tmp_path / "ck"
    snapshot_append(_batch(spark, 0, 20), str(tdir))  # v1 = table birth
    snapshot_append(_batch(spark, 20, 30), str(tdir))
    snapshot_delete(spark, str(tdir), [("k", "<", 5)], mode="dv")
    snapshot_append(_batch(spark, 30, 35), str(tdir))

    # replay from v1 with change commits skipped: every APPENDED row
    # streams — including rows a later DV delete tombstoned (Delta's
    # documented skipChangeCommits semantics)
    got = _run(spark, tdir, out, ckpt, startingVersion=1, skipChangeCommits="true")
    assert got.count() == 35

    # snapshot mode on a fresh checkpoint sees the LIVE table instead
    out2, ck2 = tmp_path / "out2", tmp_path / "ck2"
    got = _run(spark, tdir, out2, ck2)
    assert got.count() == 30


def test_max_versions_per_batch_paces_steady_state(spark, tmp_path):
    """Unit-test the offset protocol directly (the engine calls
    latestOffset BEFORE initialOffset — observed — so first-batch capping
    is impossible without risking an offset regression; the cap must bind
    from the second batch of a run onward)."""
    from f1_data_pipeline_spark.ingest.feedsource import SnapshotFeedStreamReader

    tdir = tmp_path / "tbl"
    for i in range(4):
        snapshot_append(_batch(spark, i * 10, i * 10 + 10), str(tdir))
    schema = spark.read.schema("k long, v double").parquet(
        str(tdir / "v=1")
    ).schema
    r = SnapshotFeedStreamReader(
        schema, {"path": str(tdir), "startingversion": "1", "maxversionsperbatch": "1"}
    )
    # engine order on a fresh start: latestOffset first — uncapped (no
    # cursor yet; guessing could regress behind a restart's checkpoint)
    assert r.latestOffset() == {"version": 4, "mode": "replay"}
    start = r.initialOffset()
    assert start == {"version": 0, "mode": "replay"}
    parts = r.partitions(start, {"version": 4, "mode": "replay"})
    staged_versions = {
        p.path.rsplit("/", 2)[-2] for p in parts if p.path is not None
    }
    assert staged_versions == {"v=1", "v=2", "v=3", "v=4"}
    # steady state: new commits arrive; the NEXT batch is capped to one
    for i in range(4, 7):
        snapshot_append(_batch(spark, i * 10, i * 10 + 10), str(tdir))
    assert r.latestOffset() == {"version": 5, "mode": "replay"}
    r.partitions({"version": 4, "mode": "replay"}, {"version": 5, "mode": "replay"})
    assert r.latestOffset() == {"version": 6, "mode": "replay"}


def test_catchup_delivers_everything_exactly_once(spark, tmp_path):
    tdir, out, ckpt = tmp_path / "tbl", tmp_path / "out", tmp_path / "ck"
    for i in range(4):
        snapshot_append(_batch(spark, i * 10, i * 10 + 10), str(tdir))
    got = _run(spark, tdir, out, ckpt, startingVersion=1, maxVersionsPerBatch=1)
    assert got.count() == 40  # first batch of a run is uncapped
    got = _run(spark, tdir, out, ckpt, startingVersion=1, maxVersionsPerBatch=1)
    assert got.count() == 40  # no re-emission across restarts


def test_pacing_state_dir_paces_restarted_run(spark, tmp_path):
    """pacingStateDir closes the restart hole: a NEW reader instance (a
    restarted run) recovers the cursor the previous run's partitions()
    persisted, so maxVersionsPerBatch binds on its FIRST batch instead of
    admitting the whole accumulated backlog unpaced. Foreign-table and
    torn cursors fall back to the unpaced pre-option behavior."""
    from f1_data_pipeline_spark.ingest.feedsource import SnapshotFeedStreamReader

    tdir, pdir = tmp_path / "tbl", tmp_path / "pace"
    for i in range(4):
        snapshot_append(_batch(spark, i * 10, i * 10 + 10), str(tdir))
    schema = spark.read.schema("k long, v double").parquet(str(tdir / "v=1")).schema
    opts = {
        "path": str(tdir),
        "startingversion": "1",
        "maxversionsperbatch": "1",
        "pacingstatedir": str(pdir),
    }
    r1 = SnapshotFeedStreamReader(schema, opts)
    assert r1.latestOffset() == {"version": 4, "mode": "replay"}  # no cursor yet
    r1.partitions({"version": 0, "mode": "replay"}, {"version": 4, "mode": "replay"})

    for i in range(4, 7):
        snapshot_append(_batch(spark, i * 10, i * 10 + 10), str(tdir))
    # restart: a FRESH instance recovers end=4 and paces its first batch
    r2 = SnapshotFeedStreamReader(schema, opts)
    assert r2.latestOffset() == {"version": 5, "mode": "replay"}
    # a replayed (re-run) batch never moves the cursor backward
    r2.partitions({"version": 3, "mode": "replay"}, {"version": 4, "mode": "replay"})
    r3 = SnapshotFeedStreamReader(schema, opts)
    assert r3.latestOffset() == {"version": 5, "mode": "replay"}

    # the FILE is globally monotonic: a second (lagging) instance
    # re-planning an old span cannot drag the cursor below the leader's
    lag = SnapshotFeedStreamReader(schema, opts)
    lag.partitions({"version": 0, "mode": "replay"}, {"version": 2, "mode": "replay"})
    assert SnapshotFeedStreamReader(schema, opts).latestOffset() == {
        "version": 5,
        "mode": "replay",
    }
    # a FRESH checkpoint (initialOffset) invalidates the stale cursor:
    # the new lifecycle must not be paced by the old one's state
    fresh = SnapshotFeedStreamReader(
        schema, {k: v for k, v in opts.items() if k != "startingversion"}
    )
    fresh.initialOffset()
    assert fresh.latestOffset() == {"version": 7, "mode": "replay"}
    assert SnapshotFeedStreamReader(schema, opts).latestOffset() == {
        "version": 7,
        "mode": "replay",
    }
    # rebuild the cursor for the remaining assertions
    r4 = SnapshotFeedStreamReader(schema, opts)
    r4.partitions({"version": 0, "mode": "replay"}, {"version": 4, "mode": "replay"})

    # cursor written for ANOTHER table is ignored, not misapplied
    other = tmp_path / "other"
    snapshot_append(_batch(spark, 0, 10), str(other))
    snapshot_append(_batch(spark, 10, 20), str(other))
    ro = SnapshotFeedStreamReader(
        schema, {**opts, "path": str(other), "startingversion": "1"}
    )
    assert ro.latestOffset() == {"version": 2, "mode": "replay"}
    # a torn cursor marker falls back to unpaced, never a wrong offset
    (pdir / "cursor.00000000000000000099.json").write_text('{"table": ')
    rt = SnapshotFeedStreamReader(schema, opts)
    assert rt.latestOffset() == {"version": 7, "mode": "replay"}


def test_pacing_cursor_concurrent_writes_stay_monotonic(spark, tmp_path):
    """Two queries sharing one pacingStateDir (against the
    recommendation) must never drag the cursor backward — a recovered
    cursor BEHIND a committed offset could regress the offset log, a
    cursor AHEAD merely caps less. Threaded interleaving of leader and
    laggard ends must leave the file at the global max."""
    import threading

    from f1_data_pipeline_spark.ingest.feedsource import SnapshotFeedStreamReader

    tdir, pdir = tmp_path / "tbl", tmp_path / "pace"
    for i in range(2):
        snapshot_append(_batch(spark, i * 10, i * 10 + 10), str(tdir))
    schema = spark.read.schema("k long, v double").parquet(str(tdir / "v=1")).schema
    opts = {
        "path": str(tdir),
        "maxversionsperbatch": "1",
        "pacingstatedir": str(pdir),
    }

    errs = []

    def worker(ends):
        try:
            r = SnapshotFeedStreamReader(schema, opts)
            for e in ends:
                r._persist_cursor(e)
        except Exception as e:  # pragma: no cover - surfaced by the assert
            errs.append(e)

    threads = [
        threading.Thread(target=worker, args=(range(1, 120, 2),)),   # laggard
        threading.Thread(target=worker, args=(range(2, 121, 2),)),   # leader
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert SnapshotFeedStreamReader(schema, opts)._recover_cursor() == 120
    # pruning kept the marker set bounded: only the max survives
    leftover = [p.name for p in pdir.iterdir()]
    assert leftover == ["cursor.00000000000000000120.json"]


def test_pacing_state_dir_e2e_across_runs(spark, tmp_path):
    """End-to-end: availableNow runs (single-batch per run for Python
    sources) against a backlog admit ONE version per run once the pacing
    cursor exists — previously the restarted run swallowed the backlog."""
    tdir, out, ckpt = tmp_path / "tbl", tmp_path / "out", tmp_path / "ck"
    pace = ckpt / "pacing"  # inside the checkpoint dir: lifecycles match
    snapshot_append(_batch(spark, 0, 10), str(tdir))
    opts = dict(maxVersionsPerBatch=1, pacingStateDir=str(pace))
    got = _run(spark, tdir, out, ckpt, **opts)
    assert got.count() == 10  # first-ever batch: nothing to pace against
    for i in range(1, 4):
        snapshot_append(_batch(spark, i * 10, i * 10 + 10), str(tdir))
    for expected in (20, 30, 40):  # one version per restarted run
        got = _run(spark, tdir, out, ckpt, **opts)
        assert got.count() == expected


def test_schema_evolution_null_fills_old_files(spark, tmp_path):
    tdir, out, ckpt = tmp_path / "tbl", tmp_path / "out", tmp_path / "ck"
    snapshot_append(_batch(spark, 0, 10), str(tdir))
    snapshot_append(
        _batch(spark, 10, 15).withColumn("w", F.lit("x")),
        str(tdir),
        evolve_schema=True,
    )
    feedsource.register(spark)
    q = (
        spark.readStream.format("snapshotfeed")
        .load(str(tdir))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.schema("k long, v double, w string").parquet(str(out))
    assert got.count() == 15
    # pre-evolution files surface NULL for the added column; evolved
    # files carry their value — the manifest read contract, streamed
    assert got.where(F.col("w").isNull()).count() == 10
    assert got.where(F.col("w") == "x").count() == 5


def test_table_to_table_streaming_replication(spark, tmp_path):
    """The full loop: a snapshot table tailed by `snapshotfeed`, written
    into another snapshot table by the exactly-once append sink — engine-
    checkpointed lakehouse-to-lakehouse replication with zero consumer
    bookkeeping (the streaming twin of sync_replica_from_changes)."""
    from f1_data_pipeline_spark.storage import snapshot_history, snapshot_read
    from f1_data_pipeline_spark.streaming import stream_snapshot_append

    src, rep, ckpt = tmp_path / "src", tmp_path / "rep", tmp_path / "ck"
    snapshot_append(_batch(spark, 0, 100), str(src), stats_cols=["k"])
    snapshot_append(_batch(spark, 100, 120), str(src))
    feedsource.register(spark)

    def replicate():
        q = stream_snapshot_append(
            spark.readStream.format("snapshotfeed").load(str(src)),
            str(rep),
            str(ckpt),
            txn_app_id="replica",
            stats_cols=["k"],
        )
        q.awaitTermination(180)

    replicate()
    assert sorted(
        r["k"] for r in snapshot_read(spark, rep.as_posix()).collect()
    ) == sorted(r["k"] for r in snapshot_read(spark, src.as_posix()).collect())

    # tail new source commits; replica converges, appends only
    snapshot_append(_batch(spark, 500, 510), str(src))
    replicate()
    assert snapshot_read(spark, str(rep)).count() == 130
    replicate()  # caught up: nothing re-emitted, nothing re-committed
    assert snapshot_read(spark, str(rep)).count() == 130
    ops = {h.get("op") for h in snapshot_history(spark, str(rep))}
    assert ops == {"append"}


def test_change_feed_streams_dv_deletes(spark, tmp_path):
    """changeFeed=true: appends and the initial snapshot stream as
    inserts, deletion-vector commits stream the tombstoned rows as
    deletes (file-local position diffs — no rewrite, no precomputed
    change files), every row stamped with _change_type/_commit_version,
    and the feed replays a correct live-table reconstruction."""
    from f1_data_pipeline_spark.storage import snapshot_read, snapshot_version

    tdir, out, ckpt = tmp_path / "tbl", tmp_path / "out", tmp_path / "ck"
    snapshot_write(_batch(spark, 0, 50).repartition(2), str(tdir), stats_cols=["k"])
    snapshot_append(_batch(spark, 50, 60), str(tdir))
    snapshot_delete(spark, str(tdir), [("k", "<", 5)], mode="dv")

    def run():
        feedsource.register(spark)
        q = (
            spark.readStream.format("snapshotfeed")
            .option("changeFeed", "true")
            .load(str(tdir))
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return spark.read.schema(
            "k long, v double, _change_type string, _commit_version long"
        ).parquet(str(out))

    got = run()
    v0 = snapshot_version(spark, str(tdir))
    # initial snapshot: pre-stream deletes never appear; all inserts at
    # the snapshot version
    assert got.count() == 55
    assert got.where(F.col("_change_type") != "insert").count() == 0
    assert got.agg(F.min("_commit_version")).head()[0] == v0

    # tail: a DV delete streams its tombstoned rows as deletes; a later
    # append streams as inserts — each stamped with its own commit
    snapshot_delete(
        spark, str(tdir), [("k", ">=", 50), ("k", "<=", 52)], mode="dv"
    )
    snapshot_append(_batch(spark, 100, 103), str(tdir))
    got = run()
    dels = got.where(F.col("_change_type") == "delete")
    assert sorted(r["k"] for r in dels.collect()) == [50, 51, 52]
    assert dels.select("_commit_version").distinct().head()[0] == v0 + 1
    ins = got.where(
        (F.col("_change_type") == "insert") & (F.col("_commit_version") == v0 + 2)
    )
    assert sorted(r["k"] for r in ins.collect()) == [100, 101, 102]

    # the feed reconstructs the live table: last change per key wins
    last = (
        got.groupBy("k")
        .agg(F.max_by("_change_type", "_commit_version").alias("c"))
        .where(F.col("c") == "insert")
    )
    live = snapshot_read(spark, str(tdir))
    assert sorted(r["k"] for r in last.collect()) == sorted(
        r["k"] for r in live.collect()
    )


def test_change_feed_restore_resurrects(spark, tmp_path):
    """A restore that only shrinks the deletion vector (files identical)
    streams the resurrected positions as inserts — the exact inverse of
    the DV-delete delta, same file-local diff."""
    from f1_data_pipeline_spark.storage import snapshot_restore

    tdir, out, ckpt = tmp_path / "tbl", tmp_path / "out", tmp_path / "ck"
    snapshot_append(_batch(spark, 0, 30), str(tdir))  # v1
    snapshot_delete(spark, str(tdir), [("k", "<", 3)], mode="dv")  # v2
    feedsource.register(spark)

    def run():
        q = (
            spark.readStream.format("snapshotfeed")
            .option("changeFeed", "true")
            .load(str(tdir))
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return spark.read.schema(
            "k long, v double, _change_type string, _commit_version long"
        ).parquet(str(out))

    got = run()
    assert got.count() == 27  # live snapshot at v2

    snapshot_restore(spark, str(tdir), 1)  # v3: same files, DV dropped
    got = run()
    res = got.where(F.col("_commit_version") == 3)
    assert sorted(r["k"] for r in res.collect()) == [0, 1, 2]
    assert res.select("_change_type").distinct().head()[0] == "insert"


def _feed_replica(spark, src, rep, where=None):
    """A changeFeed → ``snapshot_apply_cdc`` replica loop, one batch
    changeFeed read and one keyed apply per span. Returns ``sync()``,
    which applies every source commit since its previous call. The span
    folds to one row per key: the latest commit version wins, and within
    one version a live row outranks a delete (a restore can emit both for
    one key)."""
    from f1_data_pipeline_spark.storage import (
        snapshot_apply_cdc,
        snapshot_version,
    )

    feedsource.register(spark)
    synced = [0]

    def sync():
        head = snapshot_version(spark, str(src))
        if head == synced[0]:
            return
        reader = (
            spark.read.format("snapshotfeed")
            .option("changeFeed", "true")
            .option("startingVersion", synced[0] + 1)
            .option("endingVersion", head)
        )
        if where:
            reader = reader.option("where", where)
        feed = reader.load(str(src)).where("_change_type != 'update_preimage'")
        payload = [c for c in feed.columns if not c.startswith("_commit") and c != "k"]
        live = F.when(F.col("_change_type") == "delete", 0).otherwise(1)
        folded = (
            feed.groupBy("k")
            .agg(F.max_by(F.struct(*payload), F.struct("_commit_version", live)).alias("s"))
            .select("k", "s.*")
        )
        if snapshot_version(spark, str(rep)) < 1:
            snapshot_write(
                folded.where("_change_type != 'delete'").drop("_change_type"),
                str(rep), stats_cols=["k"],
            )
        else:
            snapshot_apply_cdc(
                spark, str(rep), folded, key="k", op_col="_change_type",
                delete_ops=("delete",),
            )
        synced[0] = head

    return sync


def test_change_feed_maintains_replica_with_deletes(spark, tmp_path):
    """The full CDC loop: source table (appends + DV deletes) →
    changeFeed spans → ``snapshot_apply_cdc`` replica. The replica must
    track the source's LIVE rows — deletes included, which the plain
    append sink cannot express — span after span, idempotently."""
    from f1_data_pipeline_spark.storage import snapshot_read

    src, rep = tmp_path / "src", tmp_path / "rep"
    snapshot_append(_batch(spark, 0, 50), str(src), stats_cols=["k"])
    snapshot_delete(spark, str(src), [("k", "<", 3)], mode="dv")
    sync = _feed_replica(spark, src, rep)

    def live(tdir):
        return sorted(r["k"] for r in snapshot_read(spark, str(tdir)).collect())

    sync()
    assert live(rep) == live(src)  # 47 rows; pre-sync deletes absent

    # tail: deletes AND appends replicate as one span
    snapshot_delete(spark, str(src), [("k", ">=", 40), ("k", "<=", 44)], mode="dv")
    snapshot_append(_batch(spark, 100, 105), str(src))
    sync()
    assert live(rep) == live(src)
    assert 40 not in set(live(rep)) and 100 in set(live(rep))

    # idempotent: nothing new → replica untouched
    v = snapshot_read(spark, str(rep)).count()
    sync()
    assert snapshot_read(spark, str(rep)).count() == v

    # delete-then-reappend of the same key across commits in ONE span
    # must resolve by commit version (the fold's ordering contract)
    snapshot_delete(spark, str(src), [("k", "=", 100)], mode="dv")
    snapshot_append(
        spark.createDataFrame([(100, -1.0)], "k long, v double"), str(src)
    )
    sync()
    rows = {r["k"]: r["v"] for r in snapshot_read(spark, str(rep)).collect()}
    assert rows[100] == -1.0
    assert live(rep) == live(src)


def test_change_feed_restore_with_equal_dv_counts(spark, tmp_path):
    """A restore can swap the deletion-vector dataset while preserving a
    file's POSITION COUNT (different rows, same count). The equal-count
    fast path is only sound for delete commits (which strictly add
    positions); a restore must diff every DV'd file — or the feed would
    silently drop both the delete and the resurrection."""
    from f1_data_pipeline_spark.storage import snapshot_read, snapshot_restore

    tdir, out, ckpt = tmp_path / "tbl", tmp_path / "out", tmp_path / "ck"
    snapshot_append(_batch(spark, 0, 10).coalesce(1), str(tdir))  # v1, one file
    snapshot_delete(spark, str(tdir), [("k", "=", 0)], mode="dv")  # v2: {0}
    snapshot_restore(spark, str(tdir), 1)  # v3: DV cleared
    snapshot_delete(spark, str(tdir), [("k", "=", 5)], mode="dv")  # v4: {5}
    feedsource.register(spark)

    def run():
        q = (
            spark.readStream.format("snapshotfeed")
            .option("changeFeed", "true")
            .load(str(tdir))
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return spark.read.schema(
            "k long, v double, _change_type string, _commit_version long"
        ).parquet(str(out))

    got = run()
    assert got.count() == 9  # live at v4: k=5 dead, k=0 alive

    # v5: restore to v2 — the file's DV count stays 1 but the position
    # set flips {5}→{0}: the feed must emit delete k=0 AND insert k=5
    snapshot_restore(spark, str(tdir), 2)
    got = run()
    v5 = got.where(F.col("_commit_version") == 5)
    assert {(r["k"], r["_change_type"]) for r in v5.collect()} == {
        (0, "delete"),
        (5, "insert"),
    }
    last = (
        got.groupBy("k")
        .agg(F.max_by("_change_type", "_commit_version").alias("c"))
        .where(F.col("c") == "insert")
    )
    assert sorted(r["k"] for r in last.collect()) == sorted(
        r["k"] for r in snapshot_read(spark, str(tdir)).collect()
    )


def test_batch_change_feed_table_changes(spark, tmp_path):
    """Delta's table_changes shape: a BATCH changeFeed read over an
    explicit version range returns the same CDC rows the streaming
    changeFeed would replay — inserts for appends, file-local DV-diff
    deletes, nothing for maintenance — with endingVersion slicing,
    range validation, and the rewrite-commit refusal + skip."""
    from f1_data_pipeline_spark.storage import snapshot_upsert

    tdir = str(tmp_path / "tbl")
    snapshot_append(_batch(spark, 0, 10).coalesce(1), tdir, stats_cols=["k"])  # v1
    snapshot_append(_batch(spark, 10, 20).coalesce(1), tdir)                   # v2
    snapshot_restamp(spark, tdir, {"note": "maintenance"})                     # v3
    snapshot_delete(spark, tdir, [("k", "=", 5)], mode="dv")                   # v4
    snapshot_append(_batch(spark, 20, 25).coalesce(1), tdir)                   # v5
    feedsource.register(spark)

    def changes(**opts):
        r = spark.read.format("snapshotfeed").option("changeFeed", "true")
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load(tdir)

    got = changes(startingVersion=2)
    rows = {(r["k"], r["_change_type"], r["_commit_version"]) for r in got.collect()}
    assert rows == (
        {(k, "insert", 2) for k in range(10, 20)}
        | {(5, "delete", 4)}
        | {(k, "insert", 5) for k in range(20, 25)}
    )
    # endingVersion slices the range; from table birth includes v1
    assert {r["k"] for r in changes(startingVersion=1, endingVersion=2).collect()} == set(
        range(20)
    )
    # where= prunes and filters the feed exactly
    assert {
        (r["k"], r["_change_type"])
        for r in changes(startingVersion=2, where='[["k", "<", 12]]').collect()
    } == {(10, "insert"), (11, "insert"), (5, "delete")}
    # validation: range, missing start, version= exclusivity
    with pytest.raises(Exception, match="invalid for a table at version"):
        changes(startingVersion=4, endingVersion=99).count()
    with pytest.raises(Exception, match="needs\\s+startingVersion"):
        changes().count()
    with pytest.raises(Exception, match="mutually exclusive"):
        changes(startingVersion=1, version=2).count()
    # a rewrite commit (upsert) raises with the batch remedy, skip skips
    snapshot_upsert(spark, tdir, _batch(spark, 0, 3), key="k")  # v6 rewrite
    with pytest.raises(Exception, match="plain batch read"):
        changes(startingVersion=6).count()
    assert changes(startingVersion=6, skipChangeCommits="true").count() == 0


def test_starting_timestamp_resolves_against_commit_times(spark, tmp_path):
    """Delta's startingTimestamp shape on both faces: the stream replays
    every commit at-or-after the instant (all-older tables tail from the
    next commit; all-newer from v1), and the batch changeFeed accepts
    timestamp bounds on either end — resolved manifest-only against the
    skew-clamped commit stamps."""
    import datetime

    from f1_data_pipeline_spark.ingest.feedsource import SnapshotFeedStreamReader
    from f1_data_pipeline_spark.snaplog import read_manifest

    tdir = tmp_path / "tbl"
    for i in range(3):
        snapshot_append(_batch(spark, i * 10, i * 10 + 10).coalesce(1), str(tdir))
    ts = [read_manifest(str(tdir), v)["ts"] for v in (1, 2, 3)]
    assert ts == sorted(ts)
    schema = spark.read.schema("k long, v double").parquet(str(tdir / "v=1")).schema

    def reader(**opts):
        return SnapshotFeedStreamReader(schema, {"path": str(tdir), **opts})

    if ts[1] > ts[0] and ts[2] > ts[1]:  # distinct stamps: midpoints exist
        mid12 = (ts[0] + ts[1]) / 2
        assert reader(startingtimestamp=mid12).initialOffset() == {
            "version": 1, "mode": "replay",
        }
        # ISO form (UTC wall-clock) resolves identically
        iso = datetime.datetime.utcfromtimestamp(mid12).isoformat()
        assert reader(startingtimestamp=iso).initialOffset() == {
            "version": 1, "mode": "replay",
        }
    # before the first commit: the whole log replays (from v1)
    assert reader(startingtimestamp=ts[0] - 10).initialOffset() == {
        "version": 0, "mode": "replay",
    }
    # after the last commit: tail-only (start at the next commit)
    assert reader(startingtimestamp=ts[2] + 10).initialOffset() == {
        "version": 3, "mode": "replay",
    }
    with pytest.raises(ValueError, match="mutually exclusive"):
        reader(startingtimestamp=ts[0], startingversion="1")

    # batch changeFeed: timestamp bounds on either end
    feedsource.register(spark)

    def changes(**opts):
        r = spark.read.format("snapshotfeed").option("changeFeed", "true")
        for k, v in opts.items():
            r = r.option(k, str(v))
        return r.load(str(tdir))

    if ts[1] > ts[0] and ts[2] > ts[1]:
        got = changes(
            startingTimestamp=(ts[0] + ts[1]) / 2,
            endingTimestamp=(ts[1] + ts[2]) / 2,
        )
        assert {r["_commit_version"] for r in got.collect()} == {2}
        # EXACT-stamp equality belongs to BOTH bounds (the JVM as-of
        # contract): start=end=ts(v2) is precisely v2, not an error
        got = changes(startingTimestamp=ts[1], endingTimestamp=ts[1])
        assert {r["_commit_version"] for r in got.collect()} == {2}
    assert changes(startingTimestamp=ts[2] + 10).count() == 0  # none yet
    # non-finite literals refuse instead of resolving to an empty feed
    with pytest.raises(Exception, match="ISO-8601|FINITE"):
        changes(startingTimestamp="nan").count()
    assert changes(startingTimestamp=ts[0] - 10).count() == 30  # full log
    with pytest.raises(Exception, match="mutually exclusive"):
        changes(startingTimestamp=ts[0], startingVersion=1).count()
    with pytest.raises(Exception, match="mutually exclusive"):
        changes(startingVersion=1, endingVersion=2, endingTimestamp=ts[1]).count()
    with pytest.raises(Exception, match="ISO-8601"):
        changes(startingTimestamp="not-a-time").count()


def test_batch_reader_matches_snapshot_read(spark, tmp_path):
    """spark.read.format('snapshotfeed') is the batch face of the table
    format: live-row semantics equal snapshot_read (DV-aware), version=N
    time-travels with THAT version's schema, and SQL DDL works."""
    from f1_data_pipeline_spark.storage import snapshot_read

    tdir = str(tmp_path / "tbl")
    snapshot_write(_batch(spark, 0, 100).repartition(3), tdir, stats_cols=["k"])
    snapshot_append(_batch(spark, 100, 120), tdir)
    snapshot_delete(spark, tdir, [("k", "<", 5)], mode="dv")
    snapshot_append(
        _batch(spark, 200, 205).withColumn("w", F.lit("x")),
        tdir,
        evolve_schema=True,
    )
    feedsource.register(spark)

    got = spark.read.format("snapshotfeed").load(tdir)
    want = snapshot_read(spark, tdir)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # time travel: v2's rows AND v2's (pre-evolution) schema
    v2 = spark.read.format("snapshotfeed").option("version", 2).load(tdir)
    assert v2.columns == ["k", "v"]
    assert v2.count() == 120  # the DV delete came later

    # plain-SQL surface
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW snap_t USING snapshotfeed "
        f"OPTIONS (path '{tdir}')"
    )
    assert spark.sql("SELECT count(*) FROM snap_t").head()[0] == want.count()

    with pytest.raises(Exception, match="STREAMING option|changeFeed"):
        spark.read.format("snapshotfeed").option("changeFeed", "true").load(
            tdir
        ).collect()


def test_batch_reader_pushes_filters_to_manifest(spark, tmp_path):
    """Pushed-down filters prune at the MANIFEST level before any file
    is opened — pinned physically: delete the pruned files from disk and
    the filtered read still succeeds (and stays exact); the unfiltered
    read fails."""
    import os

    tdir = str(tmp_path / "tbl")
    snapshot_write(
        _batch(spark, 0, 1000).repartitionByRange(5, "k"), tdir, stats_cols=["k"]
    )
    feedsource.register(spark)
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import _entry_prunable

    where = [("k", ">=", 0), ("k", "<", 150)]
    m = read_manifest(tdir, 1)
    pruned = [e["path"] for e in m["files"] if _entry_prunable(e, where)]
    assert pruned  # the range clustering must make some files prunable
    for p in pruned:
        os.rename(f"{tdir}/{p}", f"{tdir}/{p}.hidden")
    try:
        got = (
            spark.read.format("snapshotfeed")
            .load(tdir)
            .where((F.col("k") >= 0) & (F.col("k") < 150))
        )
        assert got.count() == 150
        with pytest.raises(Exception):
            spark.read.format("snapshotfeed").load(tdir).count()
    finally:
        for p in pruned:
            os.rename(f"{tdir}/{p}.hidden", f"{tdir}/{p}")


def test_dv_read_bit_equality_and_order(spark, tmp_path):
    """The DV-aware file read must be BIT-IDENTICAL to manual position
    subtraction — including row order within the file (the vectorized
    mask path must not reorder or drop the wrong positions)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tdir = str(tmp_path / "tbl")
    # one file, known in-file order, non-monotone payload
    rows = [(i, float((i * 37) % 11)) for i in range(1000)]
    snapshot_write(
        spark.createDataFrame(rows, "k long, v double").coalesce(1),
        tdir,
        stats_cols=["k"],
    )
    snapshot_delete(
        spark, str(tdir), [("k", ">=", 100), ("k", "<", 400)], mode="dv"
    )
    snapshot_delete(spark, str(tdir), [("k", "=", 999)], mode="dv")
    feedsource.register(spark)
    got = spark.read.format("snapshotfeed").load(tdir).toPandas()
    got = list(map(tuple, got.itertuples(index=False)))

    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import snapshot_version

    m = read_manifest(tdir, snapshot_version(spark, tdir))
    (entry,) = m["files"]
    raw = pq.read_table(f"{tdir}/{entry['path']}")
    dv = pq.read_table(f"{tdir}/{m['dv']['dir']}")
    import pyarrow.compute as pc

    pos = set(
        dv.filter(pc.equal(dv["path"], "/".join(entry["path"].split("/")[-2:])))[
            "pos"
        ].to_pylist()
    )
    want = [
        (r["k"], r["v"])
        for i, r in enumerate(raw.to_pylist())
        if i not in pos
    ]
    assert got == want  # exact values AND exact in-file order
    assert len(got) == 1000 - 301


def test_file_uri_round_trip(spark, tmp_path):
    """The source accepts the same ``file:`` URIs ``snapshot_read``
    does — batch AND stream — through pyarrow's filesystem resolution."""
    from f1_data_pipeline_spark.storage import snapshot_read

    tdir = tmp_path / "tbl"
    snapshot_write(_batch(spark, 0, 50).repartition(2), str(tdir), stats_cols=["k"])
    snapshot_delete(spark, str(tdir), [("k", "<", 5)], mode="dv")
    feedsource.register(spark)
    uri = f"file://{tdir}"

    got = spark.read.format("snapshotfeed").load(uri)
    want = snapshot_read(spark, str(tdir))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    out, ckpt = tmp_path / "out", tmp_path / "ck"
    q = (
        spark.readStream.format("snapshotfeed")
        .load(uri)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = spark.read.schema("k long, v double").parquet(str(out))
    assert streamed.count() == 45


def test_starting_version_beyond_latest_refused(spark, tmp_path):
    """startingVersion past latest+1 must refuse at plan time — accepting
    it would commit end=latest on an empty first batch and later DELIVER
    the versions between latest+1 and startingVersion-1, all of which
    precede the requested start."""
    from f1_data_pipeline_spark.ingest.feedsource import SnapshotFeedStreamReader

    tdir = tmp_path / "tbl"
    snapshot_append(_batch(spark, 0, 10), str(tdir))
    snapshot_append(_batch(spark, 10, 20), str(tdir))
    schema = spark.read.schema("k long, v double").parquet(str(tdir / "v=1")).schema
    # latest+1 (start at the NEXT commit) is the maximum accepted
    r = SnapshotFeedStreamReader(schema, {"path": str(tdir), "startingversion": "3"})
    assert r.initialOffset() == {"version": 2, "mode": "replay"}
    r = SnapshotFeedStreamReader(schema, {"path": str(tdir), "startingversion": "7"})
    with pytest.raises(ValueError, match="beyond the table's latest"):
        r.initialOffset()


def test_lagging_stream_behind_retention_names_the_cause(spark, tmp_path):
    """A stream whose cursor fell behind a snapshot_expire_log horizon
    must be told retention removed its offsets (Delta's 'offsets no
    longer available' shape), not pointed at corruption; a genuinely
    never-committed version keeps the old message."""
    from f1_data_pipeline_spark.ingest.feedsource import SnapshotFeedStreamReader
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import snapshot_expire_log

    tdir = tmp_path / "tbl"
    for i in range(15):
        snapshot_append(_batch(spark, i * 10, i * 10 + 10), str(tdir))
    snapshot_expire_log(spark, str(tdir), keep_last=2)  # retires v1..v13
    schema = spark.read.schema("k long, v double").parquet(str(tdir / "v=1")).schema
    r = SnapshotFeedStreamReader(schema, {"path": str(tdir)})
    with pytest.raises(FileNotFoundError, match="snapshot_expire_log"):
        r.partitions(
            {"version": 4, "mode": "replay"}, {"version": 15, "mode": "replay"}
        )
    with pytest.raises(FileNotFoundError, match="FRESH checkpoint"):
        read_manifest(str(tdir), 3)
    # above the checkpoint pointer nothing was ever committed: old wording
    with pytest.raises(FileNotFoundError, match="never committed"):
        read_manifest(str(tdir), 99)


def test_batch_changefeed_floor_is_one_above_oldest_retained(spark, tmp_path):
    """The batch changeFeed diffs startingVersion against its
    predecessor's manifest, so its effective floor is one ABOVE the
    oldest retained version — the error must name that '+1' constraint
    (not surface as a miss on a version the caller never asked for),
    and starting exactly at the floor must work."""
    from f1_data_pipeline_spark.storage import snapshot_expire_log

    feedsource.register(spark)
    tdir = str(tmp_path / "tbl")
    for i in range(15):
        snapshot_append(_batch(spark, i * 10, i * 10 + 10), tdir)
    snapshot_expire_log(spark, tdir, keep_last=3)  # retains v13..v15

    def changes(**opts):
        r = spark.read.format("snapshotfeed").option("changeFeed", "true")
        for k, v in opts.items():
            r = r.option(k, str(v))
        return r.load(tdir)

    # v13 is retained, but its diff base v12 is expired: typed floor error
    with pytest.raises(Exception, match="oldest-retained-version \\+ 1"):
        changes(startingVersion=13).count()
    # the floor itself (v14 diffs against retained v13) works
    assert changes(startingVersion=14).count() == 20


def test_ts_option_rejects_implausible_numeric_strings():
    """A small numeric string ('2024') must never resolve as epoch
    seconds (a silent full-history replay) — it parses as ISO when it
    can, and the refusal names both interpretations when it can't."""
    import pytest

    from f1_data_pipeline_spark.ingest.feedsource import _parse_ts_option

    # real commit stamps (>= 1e9) pass through as unix seconds
    assert _parse_ts_option("1700000000.5", "t") == 1700000000.5
    assert _parse_ts_option(1700000000, "t") == 1700000000.0
    # '2024' is a year, not epoch 1970: refused with the units named
    # (it is not a full ISO form either — fromisoformat needs a date)
    with pytest.raises(ValueError, match="1e9"):
        _parse_ts_option("2024", "t")
    import datetime

    assert _parse_ts_option("2024-01-01", "t") == datetime.datetime(
        2024, 1, 1, tzinfo=datetime.timezone.utc
    ).timestamp()
    # a bare small number that is no ISO form either: typed, names units
    with pytest.raises(ValueError, match="1e9"):
        _parse_ts_option("500.25", "t")
    # explicit numeric literals (programmatic epochs) stay trusted
    assert _parse_ts_option(500.25, "t") == 500.25


def test_stream_where_prunes_at_manifest_level(spark, tmp_path):
    """A filtered tail (where= option) must skip non-matching appended
    files WITHOUT opening them — pinned physically: the pruned files are
    renamed away on disk and the filtered stream still succeeds — and
    must filter surviving files' rows exactly."""
    import os

    tdir, out, ckpt = tmp_path / "tbl", tmp_path / "out", tmp_path / "ck"
    snapshot_append(
        _batch(spark, 0, 100).coalesce(1), str(tdir), stats_cols=["k"]
    )
    where = '[["k", "<", 200]]'
    got = _run(spark, tdir, out, ckpt, where=where)
    assert got.count() == 100

    # two appends: one entirely OUTSIDE the predicate (prunable), one
    # straddling it (must be opened and exactly filtered)
    snapshot_append(_batch(spark, 500, 600).coalesce(1), str(tdir))
    snapshot_append(_batch(spark, 150, 250).coalesce(1), str(tdir))
    from f1_data_pipeline_spark.snaplog import read_manifest

    m = read_manifest(str(tdir), 3)
    outside = [e["path"] for e in m["files"] if e["path"].startswith("v=2/")]
    assert outside
    for p in outside:
        os.rename(f"{tdir}/{p}", f"{tdir}/{p}.hidden")
    try:
        got = _run(spark, tdir, out, ckpt, where=where)
    finally:
        for p in outside:
            os.rename(f"{tdir}/{p}.hidden", f"{tdir}/{p}")
    # 100 initial + the straddling append's matching half; the pruned
    # file contributed nothing and was never opened
    assert got.count() == 150
    assert got.agg(F.max("k")).head()[0] == 199

    # batch reader takes the same option (exact, engine-independent)
    feedsource.register(spark)
    b = spark.read.format("snapshotfeed").option("where", where).load(str(tdir))
    assert b.count() == 150
    with pytest.raises(Exception, match="unknown column|STREAM|where"):
        spark.read.format("snapshotfeed").option(
            "where", '[["nope", "<", 1]]'
        ).load(str(tdir)).count()


def test_where_timestamp_coercion(spark, tmp_path):
    """A where triple against a timestamp column takes the natural JSON
    encoding — an ISO-8601 string — coerced to a real datetime at plan
    time: manifest pruning, parquet row-group pushdown and the exact
    executor filter all agree, on both full scans and the DV path. Typo'd
    or cross-typed literals fail at PLAN time with the column named."""
    tdir = tmp_path / "tbl"
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(mins=F.col("id"))
        ).alias("ts"),
    )
    snapshot_write(df.repartitionByRange(4, "k"), str(tdir), stats_cols=["k", "ts"])
    feedsource.register(spark)
    where = '[["ts", ">=", "2024-01-01 00:30:00"], ["ts", "<", "2024-01-01 00:40:00"]]'
    got = (
        spark.read.format("snapshotfeed").option("where", where).load(str(tdir))
    )
    assert sorted(r["k"] for r in got.collect()) == list(range(30, 40))
    # manifest pruning engaged: the range-partitioned files outside the
    # window are never part of the scan
    assert len(got.inputFiles()) < 4
    # DV path (file-absolute positions, no row-group pushdown) agrees
    snapshot_delete(spark, str(tdir), [("k", "=", 35)], mode="dv")
    got = (
        spark.read.format("snapshotfeed").option("where", where).load(str(tdir))
    )
    assert sorted(r["k"] for r in got.collect()) == [
        k for k in range(30, 40) if k != 35
    ]

    # cross-typed / malformed literals are PLAN-time, column-named errors
    for bad_where, msg in [
        ('[["ts", ">=", 42]]', "ISO-8601 timestamp"),
        ('[["ts", ">=", "not-a-time"]]', "ISO-8601 timestamp"),
        ('[["ts", ">=", "2024-01-01 00:30:00+02:00"]]', "NAIVE"),
        ('[["k", "<", "10"]]', "JSON number"),
        ('[["k", "=", null]]', "is_null"),
    ]:
        with pytest.raises(Exception, match=msg):
            spark.read.format("snapshotfeed").option(
                "where", bad_where
            ).load(str(tdir)).count()


def test_writer_timestamp_stats_match_pruning_frame(spark, tmp_path):
    """Stats staged by the DataSource WRITER (Spark hands it tz-aware
    arrow timestamps) must canonicalize to the same UTC-naive ISO form
    JVM-side stats use: a mixed pair ('…+00:00' vs '…') orders
    lexicographically wrong and silently pruned files whose min EQUALS
    the where literal. Pinned at the equality boundary, both ops and
    'in'; the safety net (_tz_suffix_mixed) keeps legacy mixed manifests
    unpruned rather than wrong."""
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        _stats_comparable,
        _tz_suffix_mixed,
    )

    feedsource.register(spark)
    tdir = str(tmp_path / "tbl")
    spark.range(0, 100).select(
        F.col("id").alias("k"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(mins=F.col("id"))
        ).alias("ts"),
    ).coalesce(1).write.format("snapshotfeed").mode("append").save(tdir)
    st = read_manifest(tdir, 1)["files"][0]["stats"]["ts"]
    assert "+" not in st["min"] and not st["min"].endswith("Z")  # UTC-naive
    # equality at the file's exact min boundary: must NOT be pruned
    for w, want in [
        ('[["ts", "=", "2024-01-01 00:00:00"]]', [0]),
        ('[["ts", "<=", "2024-01-01 00:00:00"]]', [0]),
        ('[["ts", "in", ["2024-01-01 00:00:00", "2024-01-01 01:39:00"]]]', [0, 99]),
    ]:
        got = (
            spark.read.format("snapshotfeed").option("where", w).load(tdir)
        )
        assert sorted(r["k"] for r in got.collect()) == want, w
    # the safety net for legacy mixed manifests: one-sided offset suffix
    # means NOT comparable (no prune), same-form strings stay comparable
    assert _tz_suffix_mixed("2024-01-01 00:00:00+00:00", "2024-01-01 00:00:00")
    assert not _stats_comparable("2024-01-01 00:00:00+00:00", "2024-01-01 00:00:00")
    assert _stats_comparable("2024-01-01 00:00:00", "2024-01-01 00:00:01")
    # and the prune-proof itself is LOCALLY sound against a mixed-form
    # manifest (naive min beside a tz-suffixed max — no writer produces
    # one today, but the envelope check must not assume that): every op
    # declines to prune rather than compare across frames
    from f1_data_pipeline_spark.storage import _entry_prunable

    mixed = {
        "path": "v=1/f.parquet",
        "rows": 10,
        "stats": {
            "ts": {
                "min": "2024-01-01 00:00:00",
                "max": "2024-01-01 01:39:00+00:00",
                "nulls": 0,
            }
        },
    }
    for op in ("=", "<", "<=", ">", ">="):
        assert not _entry_prunable(mixed, [("ts", op, "2025-06-01 00:00:00")]), op
    assert not _entry_prunable(mixed, [("ts", "in", ["2025-06-01 00:00:00"])])


def test_where_in_option_batch_and_stream(spark, tmp_path):
    """The where= option's 'in' op: manifest-level pruning + row-group
    pushdown + exact Arrow filtering agree for multi-key lookups, on
    plain columns and (coerced) timestamps; malformed lists fail at plan
    time."""
    tdir = tmp_path / "tbl"
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(mins=F.col("id"))
        ).alias("ts"),
    )
    snapshot_write(df.repartitionByRange(4, "k"), str(tdir), stats_cols=["k", "ts"])
    feedsource.register(spark)
    got = (
        spark.read.format("snapshotfeed")
        .option("where", '[["k", "in", [5, 6, 399]]]')
        .load(str(tdir))
    )
    assert sorted(r["k"] for r in got.collect()) == [5, 6, 399]
    assert len(got.inputFiles()) < 4  # interior files pruned at the manifest
    # timestamp elements coerce like scalar triples (same session frame)
    got = (
        spark.read.format("snapshotfeed")
        .option(
            "where",
            '[["ts", "in", ["2024-01-01 00:05:00", "2024-01-01 06:30:00"]]]',
        )
        .load(str(tdir))
    )
    assert sorted(r["k"] for r in got.collect()) == [5, 390]
    # DV path agrees (no row-group pushdown there; file-absolute positions)
    snapshot_delete(spark, str(tdir), [("k", "=", 6)], mode="dv")
    got = (
        spark.read.format("snapshotfeed")
        .option("where", '[["k", "in", [5, 6, 399]]]')
        .load(str(tdir))
    )
    assert sorted(r["k"] for r in got.collect()) == [5, 399]
    for bad, msg in [
        ('[["k", "in", []]]', "non-empty"),
        ('[["k", "in", 5]]', "non-empty"),
        ('[["k", "in", [1, null]]]', "is_null"),
        ('[["k", "in", ["x"]]]', "JSON number"),
    ]:
        with pytest.raises(Exception, match=msg):
            spark.read.format("snapshotfeed").option("where", bad).load(
                str(tdir)
            ).count()


def test_where_filtered_replica(spark, tmp_path):
    """A filtered changeFeed maintains a PARTIAL replica: only matching
    rows flow, deletes included."""
    from f1_data_pipeline_spark.storage import snapshot_read

    src, rep = tmp_path / "src", tmp_path / "rep"
    snapshot_append(_batch(spark, 0, 50).coalesce(1), str(src), stats_cols=["k"])
    sync = _feed_replica(spark, src, rep, where='[["k", "<", 20]]')

    sync()
    assert sorted(r["k"] for r in snapshot_read(spark, str(rep)).collect()) == list(
        range(20)
    )
    # a DV delete inside the predicate replicates; one outside is ignored
    snapshot_delete(spark, str(src), [("k", "=", 5)], mode="dv")
    sync()
    snapshot_delete(spark, str(src), [("k", "=", 40)], mode="dv")
    sync()
    ks = sorted(r["k"] for r in snapshot_read(spark, str(rep)).collect())
    assert ks == [k for k in range(20) if k != 5]


def test_multiwriter_gate_refuses_non_atomic_stores(spark, tmp_path):
    """multiWriter=true declares concurrent writers; stores whose commit
    publication is check-then-write (no conditional PUT through
    pyarrow.fs, HDFS included) are refused at PLAN time — posix paths
    (hard-link publish) pass and the write commits."""
    from f1_data_pipeline_spark.ingest.feedsource import _require_atomic_store
    from f1_data_pipeline_spark.storage import snapshot_read

    feedsource.register(spark)
    tdir = str(tmp_path / "tbl")
    # local path: hard-link publish is atomic — the option is honored
    _batch(spark, 0, 10).write.format("snapshotfeed").mode("append").option(
        "multiWriter", "true"
    ).save(tdir)
    assert snapshot_read(spark, tdir).count() == 10
    # object store: refused typed before any IO (no credentials needed)
    with pytest.raises(Exception, match="atomic create-no-overwrite"):
        _batch(spark, 0, 10).write.format("snapshotfeed").mode("append").option(
            "multiWriter", "true"
        ).save("s3://bucket/tbl")
    # the gate itself: only posix paths are atomic; pyarrow's HDFS move
    # replaces an existing name, so HDFS-family schemes are refused too
    for ok in (str(tmp_path / "x"), "file:///t/x"):
        _require_atomic_store(ok, "t")
    for bad in ("hdfs://nn:9000/t", "viewfs://c/t", "s3://b/t", "gs://b/t", "abfss://c@a/t"):
        with pytest.raises(ValueError, match="conditional PUT"):
            _require_atomic_store(bad, "t")


def test_cross_writer_checkpoints_agree(spark, tmp_path):
    """storage.snapshot_append and the snapshotfeed writer share one
    commit log: interleaved on one table up to v21 at the default
    checkpoint interval, the storage writer crosses v10 and the feed
    writer crosses v20. Both checkpoints must exist and carry exactly
    the per-version history, and the storage and stream-reader heads
    must agree."""
    import json
    import os

    from f1_data_pipeline_spark.storage import snapshot_history, snapshot_version

    feedsource.register(spark)
    tdir = str(tmp_path / "tbl")
    # feed writer on odd versions up to v9 and even versions from v12;
    # storage on the rest — v10 is a storage commit, v20 a feed commit
    for v in range(1, 22):
        df = _batch(spark, 10 * v, 10 * v + 10).coalesce(1)
        if (v % 2 == 1) == (v <= 10):
            df.write.format("snapshotfeed").mode("append").save(tdir)
        else:
            snapshot_append(df, tdir)
        assert snapshot_version(spark, tdir) == v

    history = snapshot_history(spark, tdir, check_available=True)
    assert all(rec.pop("available") for rec in history)
    assert [rec["version"] for rec in history] == list(range(1, 22))
    for n in (10, 20):
        path = f"{tdir}/_manifests/{n}.ckpt.json"
        assert os.path.exists(path)
        with open(path) as fh:
            ck = json.load(fh)
        assert ck["version"] == n
        assert ck["log"] == history[:n]
    with open(f"{tdir}/_manifests/_last_checkpoint") as fh:
        assert json.load(fh)["version"] == 20

    schema = spark.read.format("snapshotfeed").load(tdir).schema
    reader = feedsource.SnapshotFeedStreamReader(schema, {"path": tdir})
    assert reader.latestOffset()["version"] == snapshot_version(spark, tdir) == 21


def test_writer_orphan_names_recovery_api_and_retry_succeeds(spark, tmp_path):
    """A crashed SQL writer's orphan stage blocks the next write with an
    error NAMING storage.snapshot_clean_orphans; running that API (which
    also sweeps the writer's _staging leftovers) unblocks the retry."""
    import os

    from f1_data_pipeline_spark.storage import snapshot_clean_orphans, snapshot_read

    feedsource.register(spark)
    tdir = str(tmp_path / "tbl")
    _batch(spark, 0, 10).write.format("snapshotfeed").mode("append").save(tdir)
    # crash image: claimed-but-uncommitted v=2 stage + staged task files
    os.makedirs(f"{tdir}/v=2")
    open(f"{tdir}/v=2/_CLAIM", "w").close()
    os.makedirs(f"{tdir}/_staging/v2abc")
    open(f"{tdir}/_staging/v2abc/part-0.parquet", "w").close()
    with pytest.raises(Exception, match="snapshot_clean_orphans"):
        _batch(spark, 10, 20).write.format("snapshotfeed").mode("append").save(tdir)
    # default grace keeps RECENT staging (a live writer may own it) …
    assert snapshot_clean_orphans(spark, tdir) == [2]
    assert os.path.exists(f"{tdir}/_staging/v2abc/part-0.parquet")
    # … and grace 0 (operator asserts no writer is active) sweeps it —
    # the dry run reports the SAME set it would delete, deleting nothing
    os.makedirs(f"{tdir}/v=2")
    open(f"{tdir}/v=2/_CLAIM", "w").close()
    dry = snapshot_clean_orphans(spark, tdir, dry_run=True, staging_grace_sec=0)
    assert dry[0] == 2 and "_staging/v2abc" in dry  # plus the aborted
    # write's own dsw-* staging leftovers — also reported, also swept
    assert os.path.exists(f"{tdir}/_staging/v2abc/part-0.parquet")
    assert snapshot_clean_orphans(spark, tdir, staging_grace_sec=0) == dry
    assert not os.path.exists(f"{tdir}/_staging")
    # recover-then-retry: the write now claims v=2 and commits cleanly
    _batch(spark, 10, 20).write.format("snapshotfeed").mode("append").save(tdir)
    assert snapshot_read(spark, tdir).count() == 20


def test_datasource_writer_batch(spark, tmp_path):
    """The write face of the format: df.write / SQL INSERT INTO / INSERT
    OVERWRITE commit real snapshot versions — op-labelled, carried-by-
    reference appends with per-file stats, atomic manifest publish —
    interoperable with every storage.py reader."""
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_history,
        snapshot_read,
        snapshot_version,
    )

    feedsource.register(spark)
    tdir = str(tmp_path / "tbl")
    _batch(spark, 0, 100).write.format("snapshotfeed").mode("append").save(tdir)
    assert snapshot_version(spark, tdir) == 1
    assert snapshot_read(spark, tdir).count() == 100

    _batch(spark, 100, 120).write.format("snapshotfeed").mode("append").save(tdir)
    m2 = read_manifest(tdir, 2)
    assert m2["op"] == "append"
    v1_files = {e["path"] for e in read_manifest(tdir, 1)["files"]}
    assert v1_files <= {e["path"] for e in m2["files"]}  # carried by reference
    staged = [e for e in m2["files"] if e["path"].startswith("v=2/")]
    assert staged and all("k" in e["stats"] and "v" in e["stats"] for e in staged)
    assert min(e["stats"]["k"]["min"] for e in staged) == 100
    assert max(e["stats"]["k"]["max"] for e in staged) == 119

    # SQL surface: INSERT INTO a USING view commits an append version
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW snap_w USING snapshotfeed "
        f"OPTIONS (path '{tdir}')"
    )
    spark.sql("INSERT INTO snap_w SELECT CAST(777 AS LONG) AS k, 7.0 AS v")
    assert snapshot_read(spark, tdir).count() == 121
    assert [h.get("op") for h in snapshot_history(spark, tdir)] == ["append"] * 3

    # schema drift refuses (no silent evolution through SQL writes)
    with pytest.raises(Exception, match="does not match the committed"):
        spark.range(3).select(
            F.col("id").alias("k"), F.lit("x").alias("v")
        ).write.format("snapshotfeed").mode("append").save(tdir)

    # INSERT OVERWRITE = full replace, op-labelled "write"
    spark.sql("INSERT OVERWRITE snap_w SELECT CAST(1 AS LONG) AS k, 2.0 AS v")
    assert snapshot_read(spark, tdir).count() == 1
    assert read_manifest(tdir, 4)["op"] == "write"

    # a table with a Bloom spec refuses the writer's unindexed appends
    snapshot_write(_batch(spark, 0, 5), tdir, bloom_cols=["k"])
    with pytest.raises(Exception, match="Bloom-filter"):
        _batch(spark, 5, 10).write.format("snapshotfeed").mode("append").save(tdir)


def test_datasource_writer_streaming_exactly_once(spark, tmp_path):
    """writeStream.format('snapshotfeed') with txnAppId: the batch id is
    stamped atomically with the data, so a replayed micro-batch skips —
    exactly-once. The replay gate is unit-driven (same batchId committed
    twice) plus an e2e run."""
    import pyarrow as pa

    from f1_data_pipeline_spark.ingest.feedsource import (
        SnapshotFeedStreamWriter,
        _writer_target_schema,
    )
    from f1_data_pipeline_spark.storage import (
        snapshot_properties,
        snapshot_read,
        snapshot_version,
    )

    feedsource.register(spark)
    tdir = str(tmp_path / "tbl")
    schema = _batch(spark, 0, 1).schema

    w = SnapshotFeedStreamWriter(schema, {"path": tdir, "txnappid": "app1"})
    target = _writer_target_schema(schema.json())

    def stage(lo, hi):
        tbl = pa.table(
            {"k": list(range(lo, hi)), "v": [float(i * 2) for i in range(lo, hi)]}
        ).cast(target)
        return [w.write(iter(tbl.to_batches()))]

    w.commit(stage(0, 10), 0)
    assert snapshot_version(spark, tdir) == 1
    assert snapshot_properties(spark, tdir)["txn"] == {"app1": 0}
    # crash replay: the SAME batch id arrives again with identical rows —
    # the stamp proves it landed; nothing commits, staged files cleaned
    w.commit(stage(0, 10), 0)
    assert snapshot_version(spark, tdir) == 1
    assert snapshot_read(spark, tdir).count() == 10
    w.commit(stage(10, 15), 1)
    assert snapshot_version(spark, tdir) == 2
    assert snapshot_read(spark, tdir).count() == 15
    import os

    leftovers = os.listdir(f"{tdir}/_staging") and [
        n
        for d in os.listdir(f"{tdir}/_staging")
        for n in os.listdir(f"{tdir}/_staging/{d}")
    ]
    assert not leftovers  # replayed/committed stages never accumulate

    # e2e: a real streaming query into the sink
    src, ckpt = tmp_path / "src", tmp_path / "ck"
    _batch(spark, 100, 130).write.parquet(str(src))
    q = (
        spark.readStream.schema(schema)
        .parquet(str(src))
        .writeStream.format("snapshotfeed")
        .option("path", tdir)
        .option("txnAppId", "e2e")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert snapshot_read(spark, tdir).count() == 45
    props = snapshot_properties(spark, tdir)["txn"]
    assert props["app1"] == 1 and "e2e" in props  # stamps coexist per app

    # replay AFTER a post-crash schema evolution: the stamp must prove
    # the batch already landed BEFORE the schema refusal fires (the gate
    # runs first), while a genuinely NEW batch still refuses loudly
    snapshot_append(
        _batch(spark, 300, 301).withColumn("w", F.lit(1.0)), tdir,
        evolve_schema=True,
    )
    w.commit(stage(10, 15), 1)  # replayed batchId: silent skip
    assert snapshot_read(spark, tdir).count() == 46
    with pytest.raises(Exception, match="does not match the committed"):
        w.commit(stage(200, 205), 2)


def test_max_bytes_per_batch_paces_by_size(spark, tmp_path):
    """Byte-based admission control (the maxBytesPerTrigger analog):
    steady-state spans stop before the budget, always admit at least one
    version, and maintenance commits count zero."""
    from f1_data_pipeline_spark.ingest.feedsource import SnapshotFeedStreamReader
    from f1_data_pipeline_spark.snaplog import read_manifest

    tdir = tmp_path / "tbl"
    for i in range(5):
        snapshot_append(_batch(spark, i * 10, i * 10 + 10).coalesce(1), str(tdir))
    snapshot_restamp(spark, str(tdir), {"note": "maintenance"})  # v6, 0 bytes
    snapshot_append(_batch(spark, 50, 60).coalesce(1), str(tdir))  # v7

    m2 = read_manifest(str(tdir), 2)
    one_file = sum(
        e["bytes"] for e in m2["files"] if e["path"].startswith("v=2/")
    )
    assert one_file > 0
    schema = spark.read.schema("k long, v double").parquet(str(tdir / "v=1")).schema
    r = SnapshotFeedStreamReader(
        schema,
        {
            "path": str(tdir),
            "startingversion": "1",
            # budget: one appended file fits, a second would not
            "maxbytesperbatch": str(int(one_file * 1.5)),
        },
    )
    # first call of a run is uncapped (no cursor yet — same rule as
    # maxVersionsPerBatch); establish the cursor via partitions()
    start = r.initialOffset()
    assert start == {"version": 0, "mode": "replay"}
    r.partitions(start, {"version": 1, "mode": "replay"})
    # each steady-state span admits exactly one data version
    assert r.latestOffset() == {"version": 2, "mode": "replay"}
    r.partitions({"version": 1, "mode": "replay"}, {"version": 2, "mode": "replay"})
    assert r.latestOffset() == {"version": 3, "mode": "replay"}
    # ... until the cursor reaches v5: the restamp (v6) is free, so the
    # span extends THROUGH it to the next data version's boundary
    r.partitions({"version": 2, "mode": "replay"}, {"version": 5, "mode": "replay"})
    assert r.latestOffset() == {"version": 7, "mode": "replay"}

    # an oversized single commit still advances (no stall)
    r2 = SnapshotFeedStreamReader(
        schema,
        {"path": str(tdir), "startingversion": "1", "maxbytesperbatch": "1"},
    )
    r2.partitions(
        {"version": 0, "mode": "replay"}, {"version": 1, "mode": "replay"}
    )
    assert r2.latestOffset() == {"version": 2, "mode": "replay"}


def test_cdf_rewrites_stream_as_change_rows(spark, tmp_path):
    """CDF for rewrite commits (the Delta enableChangeDataFeed trade):
    a table written with change_files=True materializes every rewrite
    commit's NET row-level diff under _changes/v=N, and the changeFeed
    — batch AND stream — replays it as CDC rows instead of raising;
    tables without the flag keep the refusal; net-zero rewrites stream
    nothing; expire_log reclaims a version's change files with its
    commit record."""
    import os

    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_apply_cdc,
        snapshot_expire_log,
        snapshot_upsert,
        snapshot_write,
    )

    feedsource.register(spark)
    tdir = str(tmp_path / "tbl")
    base = _batch(spark, 0, 100)
    snapshot_write(
        base.repartitionByRange(4, "k"), tdir, stats_cols=["k"],
        change_files=True,
    )
    # v2: upsert — 10 updated keys, 5 fresh inserts
    ups = _batch(spark, 40, 50).withColumn("v", F.col("v") + 1000).unionByName(
        _batch(spark, 100, 105)
    )
    snapshot_upsert(spark, tdir, ups, key="k", cluster_files=2)
    m2 = read_manifest(tdir, 2)
    assert m2.get("cdf") is True and m2.get("changes")
    assert sum(e["rows"] for e in m2["changes"]) == 25  # 10 pre + 10 post + 5 ins
    # v3: mixed CDC batch — delete 2 keys, update 1
    ch = spark.createDataFrame(
        [(0, None, "D"), (1, None, "D"), (50, 9999.0, "U")], "k long, v double, op string"
    )
    snapshot_apply_cdc(spark, tdir, ch, key="k")
    # v4: net-zero rewrite (upsert with identical values) → empty feed
    snapshot_upsert(spark, tdir, _batch(spark, 60, 62), key="k")
    m4 = read_manifest(tdir, 4)
    assert m4.get("changes") == [] or sum(e["rows"] for e in m4["changes"]) == 0

    def changes(**opts):
        r = spark.read.format("snapshotfeed").option("changeFeed", "true")
        for kk, vv in opts.items():
            r = r.option(kk, str(vv))
        return r.load(tdir)

    f2 = changes(startingVersion=2, endingVersion=2)
    got = {r["_change_type"]: 0 for r in f2.collect()}
    by_type = {
        r["_change_type"]: r["count"]
        for r in f2.groupBy("_change_type").count().collect()
    }
    assert by_type == {
        "update_preimage": 10, "update_postimage": 10, "insert": 5,
    }, by_type
    pre = f2.where((F.col("k") == 45) & (F.col("_change_type") == "update_preimage"))
    post = f2.where((F.col("k") == 45) & (F.col("_change_type") == "update_postimage"))
    assert post.head()["v"] == pre.head()["v"] + 1000
    f3 = changes(startingVersion=3, endingVersion=3)
    by3 = {
        r["_change_type"]: r["count"]
        for r in f3.groupBy("_change_type").count().collect()
    }
    assert by3 == {"delete": 2, "update_preimage": 1, "update_postimage": 1}, by3
    assert changes(startingVersion=4).count() == 0  # net-zero commit
    # where= filters change rows exactly (no stats on change entries:
    # pruning keeps them, the executor filter is the semantics)
    assert changes(
        startingVersion=2, endingVersion=3, where='[["k", "=", 45]]'
    ).count() == 2

    # STREAMING changeFeed across the same commits
    out, ckpt = tmp_path / "out", tmp_path / "ck"
    q = (
        spark.readStream.format("snapshotfeed")
        .option("changeFeed", "true")
        .option("startingVersion", "2")
        .load(tdir)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    sgot = spark.read.parquet(str(out))
    assert sgot.count() == 25 + 4
    assert sgot.where(F.col("_commit_version") == 3).count() == 4

    # the flag survives maintenance and appends
    snapshot_append(_batch(spark, 200, 210), tdir)
    assert read_manifest(tdir, 5).get("cdf") is True

    # refusal intact without the flag
    t2 = str(tmp_path / "plain")
    snapshot_write(base, t2, stats_cols=["k"])
    snapshot_upsert(spark, t2, _batch(spark, 0, 5).withColumn("v", F.col("v") + 1), key="k")
    with pytest.raises(Exception, match="CHANGE commit"):
        spark.read.format("snapshotfeed").option("changeFeed", "true").option(
            "startingVersion", "2"
        ).load(t2).count()

    # retention: expiring a version's record reclaims its change files
    for i in range(6):
        snapshot_append(_batch(spark, 300 + i * 10, 310 + i * 10), tdir)
    assert os.path.isdir(f"{tdir}/_changes/v=2")
    expired = snapshot_expire_log(spark, tdir, keep_last=3)
    assert 2 in expired and 3 in expired
    assert not os.path.exists(f"{tdir}/_changes/v=2")
    assert not os.path.exists(f"{tdir}/_changes/v=3")


def test_cdf_merge_and_schema_evolution_change_files(spark, tmp_path):
    """The tri-clause MERGE materializes change files on cdf tables too
    — including the by-source delete clause — and an evolving upsert's
    change rows carry the widened schema (old rows NULL-fill)."""
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_merge,
        snapshot_upsert,
        snapshot_write,
    )

    feedsource.register(spark)
    tdir = str(tmp_path / "tbl")
    snapshot_write(
        _batch(spark, 0, 20).repartitionByRange(2, "k"), tdir,
        stats_cols=["k"], change_files=True,
    )
    src = _batch(spark, 10, 25).withColumn("v", F.col("v") + 500)
    snapshot_merge(
        spark, tdir, src, key="k",
        when_not_matched_by_source="delete",
    )  # updates 10..19, inserts 20..24, deletes 0..9
    f = (
        spark.read.format("snapshotfeed")
        .option("changeFeed", "true")
        .option("startingVersion", "2")
        .load(str(tdir))
    )
    by = {r["_change_type"]: r["count"] for r in f.groupBy("_change_type").count().collect()}
    assert by == {
        "delete": 10, "insert": 5,
        "update_preimage": 10, "update_postimage": 10,
    }, by
    # schema evolution: the change file carries the widened column
    ev = _batch(spark, 12, 14).withColumn("w", F.lit("x"))
    snapshot_upsert(spark, tdir, ev, key="k", evolve_schema=True)
    m3 = read_manifest(tdir, 3)
    assert m3.get("changes")
    f3 = (
        spark.read.format("snapshotfeed")
        .option("changeFeed", "true")
        .option("startingVersion", "3")
        .load(str(tdir))
    )
    rows = {(r["k"], r["_change_type"]): r for r in f3.collect()}
    assert rows[(12, "update_preimage")]["w"] is None
    assert rows[(12, "update_postimage")]["w"] == "x"


def test_cdf_delete_and_restore_change_files(spark, tmp_path):
    """Predicate deletes and restores materialize change files on cdf
    tables too: a COW delete's CDC is exactly the predicate-matched live
    rows as ``delete`` events (no keyed diff), a restore's is the exact
    keyless multiset diff (rows leaving emit as deletes, rows returning
    as inserts — DV deltas included), and a net-zero restore streams
    nothing. The materialized branch is authoritative: the feed never
    re-reads data files for these commits."""
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_append,
        snapshot_delete,
        snapshot_restore,
        snapshot_write,
    )

    feedsource.register(spark)
    tdir = str(tmp_path / "tbl")
    snapshot_write(
        _batch(spark, 0, 100).repartitionByRange(4, "k"), tdir,
        stats_cols=["k"], change_files=True,
    )

    def changes(**opts):
        r = spark.read.format("snapshotfeed").option("changeFeed", "true")
        for kk, vv in opts.items():
            r = r.option(kk, str(vv))
        return r.load(tdir)

    # v2: COW delete — 10 predicate-matched rows emit as deletes
    ver, n = snapshot_delete(spark, tdir, [("k", "<", 10)], mode="cow")
    assert (ver, n) == (2, 10)
    assert read_manifest(tdir, 2).get("changes")
    f2 = changes(startingVersion=2)
    rows = f2.collect()
    assert len(rows) == 10
    assert all(r["_change_type"] == "delete" for r in rows)
    assert sorted(r["k"] for r in rows) == list(range(10))
    assert all("/_changes/" in f for f in f2.inputFiles())
    # where= still filters the delete rows exactly
    assert changes(startingVersion=2, where='[["k", "<", 5]]').count() == 5

    # v3: append, then v4: restore to v2 — the appended rows leave as
    # deletes; the restore's diff comes from the materialized files
    snapshot_append(_batch(spark, 100, 150), tdir)
    assert snapshot_restore(spark, tdir, 2) == 4
    m4 = read_manifest(tdir, 4)
    assert m4.get("cdf") is True and m4.get("changes")
    f4 = changes(startingVersion=4)
    rows = f4.collect()
    assert len(rows) == 50
    assert all(r["_change_type"] == "delete" for r in rows)
    assert sorted(r["k"] for r in rows) == list(range(100, 150))
    assert all("/_changes/" in f for f in f4.inputFiles())

    # v5: net-zero restore (current state) emits nothing
    assert snapshot_restore(spark, tdir, 4) == 5
    assert changes(startingVersion=5).count() == 0

    # v6: DV delete, v7: restore past it — the resurrected rows emit as
    # inserts from the materialized files (authoritative over the
    # DV-delta derivation: same content, zero reads outside _changes/)
    ver, n = snapshot_delete(
        spark, tdir, [("k", ">=", 95), ("k", "<", 100)], mode="dv"
    )
    assert (ver, n) == (6, 5)
    assert snapshot_restore(spark, tdir, 5) == 7
    f7 = changes(startingVersion=7)
    rows = f7.collect()
    assert sorted(r["_change_type"] for r in rows) == ["insert"] * 5
    assert sorted(r["k"] for r in rows) == list(range(95, 100))
    assert all("/_changes/" in f for f in f7.inputFiles())

    # v8: COW delete, v9: restore past it — rewritten-but-identical
    # survivors live in BOTH diff sides (old = rewritten file, new =
    # original file); the exceptAll netting cancels them so only the
    # true churn (the 10 deleted keys, returning) emits
    ver, n = snapshot_delete(spark, tdir, [("k", "<", 20)], mode="cow")
    assert (ver, n) == (8, 10)  # state held k >= 10 since v2
    assert snapshot_restore(spark, tdir, 7) == 9
    rows = changes(startingVersion=9).collect()
    assert sorted(r["_change_type"] for r in rows) == ["insert"] * 10, [
        (r["k"], r["_change_type"]) for r in rows
    ]
    assert sorted(r["k"] for r in rows) == list(range(10, 20))

    # plain-table restores keep the refusal (and skipChangeCommits)
    t2 = str(tmp_path / "plain")
    snapshot_write(_batch(spark, 0, 20), t2, stats_cols=["k"])
    snapshot_append(_batch(spark, 20, 30), t2)
    snapshot_restore(spark, t2, 1)
    plain = spark.read.format("snapshotfeed").option("changeFeed", "true")
    with pytest.raises(Exception, match="CHANGE commit"):
        plain.option("startingVersion", "3").load(t2).count()


def test_cdf_replace_change_files(spark, tmp_path):
    """A full REPLACE via snapshot_write on a cdf table materializes the
    netted multiset diff (rows leaving as deletes, rows arriving as
    inserts, identical rows cancel): a cdf table's changeFeed never
    refuses. A re-clustering replace of identical content nets to an
    empty feed, and the old side honors accumulated deletion vectors."""
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_delete,
        snapshot_write,
    )

    feedsource.register(spark)
    tdir = str(tmp_path / "tbl")
    snapshot_write(
        _batch(spark, 0, 100).repartition(4), tdir,
        stats_cols=["k"], change_files=True,
    )

    def changes(v):
        return (
            spark.read.format("snapshotfeed")
            .option("changeFeed", "true")
            .option("startingVersion", str(v))
            .option("endingVersion", str(v))
            .load(tdir)
        )

    # v2: replace dropping 0..9 and adding 100..109; 10..99 identical
    snapshot_write(_batch(spark, 10, 110).repartition(3), tdir, stats_cols=["k"])
    m2 = read_manifest(tdir, 2)
    assert m2.get("cdf") is True and m2.get("changes") is not None
    f2 = changes(2)
    by = {}
    for r in f2.collect():
        by.setdefault(r["_change_type"], []).append(r["k"])
    assert sorted(by.pop("delete")) == list(range(10))
    assert sorted(by.pop("insert")) == list(range(100, 110))
    assert not by
    assert all("/_changes/" in f for f in f2.inputFiles())

    # v3: identical-content re-cluster nets to an empty feed
    snapshot_write(_batch(spark, 10, 110).repartition(7), tdir, stats_cols=["k"])
    assert changes(3).count() == 0

    # v4: DV delete, v5: replace — the old side honors the tombstones
    # (10..14 already dead, so only 15..19 emit as deletes)
    snapshot_delete(spark, tdir, [("k", "<", 15)], mode="dv")
    snapshot_write(_batch(spark, 20, 110).repartition(3), tdir, stats_cols=["k"])
    rows = changes(5).collect()
    assert sorted(r["k"] for r in rows) == list(range(15, 20))
    assert all(r["_change_type"] == "delete" for r in rows)

    # change_files=False on a replace disables the flag going forward
    snapshot_write(_batch(spark, 20, 110), tdir, change_files=False)
    assert read_manifest(tdir, 6).get("cdf") is None


def test_max_bytes_pacing_counts_change_files_on_cdf_tables(spark, tmp_path):
    """Byte pacing on a changeFeed stream budgets what the batch will
    actually read: a materialized-CDF rewrite counts its (small) change
    files, not the (large) staged survivor files the commit rewrote."""
    from f1_data_pipeline_spark.ingest.feedsource import SnapshotFeedStreamReader
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_delete,
        snapshot_write,
    )

    tdir = tmp_path / "tbl"
    snapshot_write(
        _batch(spark, 0, 4000).coalesce(1), str(tdir),
        stats_cols=["k"], change_files=True,
    )
    # v2: COW delete of 5 rows — stages ~the whole table again, but the
    # change file holds only the 5 delete rows
    snapshot_delete(spark, str(tdir), [("k", "<", 5)], mode="cow")
    snapshot_append(_batch(spark, 4000, 4010).coalesce(1), str(tdir))  # v3
    m2 = read_manifest(str(tdir), 2)
    m3 = read_manifest(str(tdir), 3)
    change_bytes = sum(e["bytes"] for e in m2["changes"])
    staged_bytes = sum(
        e["bytes"] for e in m2["files"] if e["path"].startswith("v=2/")
    )
    added_v3 = sum(
        e["bytes"] for e in m3["files"] if e["path"].startswith("v=3/")
    )
    assert 0 < change_bytes < staged_bytes
    schema = (
        spark.read.schema("k long, v double").parquet(str(tdir / "v=1")).schema
        .add("_change_type", "string").add("_commit_version", "long")
    )
    budget = change_bytes + added_v3 + 64  # < staged_bytes by construction
    assert budget < staged_bytes
    r = SnapshotFeedStreamReader(
        schema,
        {
            "path": str(tdir),
            "changefeed": "true",
            "startingversion": "1",
            "maxbytesperbatch": str(budget),
        },
    )
    start = r.initialOffset()
    r.partitions(start, {"version": 1, "mode": "replay"})
    # change-file accounting admits BOTH the rewrite and the append in
    # one span; staged-file accounting would have stopped after v2
    assert r.latestOffset() == {"version": 3, "mode": "replay"}


def test_cdf_null_keys_and_type_changing_replace(spark, tmp_path):
    """Two review-pinned diff invariants: (1) a NULL-keyed row (legal in
    merge targets) carried unchanged through a rewrite emits NOTHING —
    the keyed diff joins null-safely, so the row matches its own
    pre-image instead of fabricating a delete+insert pair; (2) a replace
    that retypes a column, and a restore across it, diff via try_cast
    under each side's own schema instead of crashing the parquet scan."""
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_restore,
        snapshot_upsert,
        snapshot_write,
    )

    feedsource.register(spark)
    tdir = str(tmp_path / "nullkey")
    rows = [(None, 1.0)] + [(float(i), float(i)) for i in range(10)]
    snapshot_write(
        spark.createDataFrame(rows, "k double, v double").coalesce(1),
        tdir, stats_cols=["k"], change_files=True,
    )
    snapshot_upsert(
        spark, tdir,
        spark.createDataFrame([(5.0, 500.0)], "k double, v double"),
        key="k",
    )
    feed = (
        spark.read.format("snapshotfeed")
        .option("changeFeed", "true")
        .option("startingVersion", "2")
        .load(tdir)
    )
    got = sorted((r["k"], r["_change_type"]) for r in feed.collect())
    assert got == [(5.0, "update_postimage"), (5.0, "update_preimage")], got

    t2 = str(tmp_path / "retype")
    snapshot_write(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v int").coalesce(1),
        t2, change_files=True,
    )
    # v2: replace retypes v int→string; "10" casts equal to old 10 → nets
    snapshot_write(spark.createDataFrame([(1, "10"), (2, "99")], "k long, v string"), t2)
    feed = (
        spark.read.format("snapshotfeed")
        .option("changeFeed", "true")
        .option("startingVersion", "2").option("endingVersion", "2")
        .load(t2)
    )
    got = sorted((r["k"], r["v"], r["_change_type"]) for r in feed.collect())
    assert got == [(2, "20", "delete"), (2, "99", "insert")], got
    # v3: restore across the type change — old side ("99") casts to the
    # restored int schema; k=1 cancels
    snapshot_restore(spark, t2, 1)
    assert read_manifest(t2, 3).get("changes") is not None
    feed = (
        spark.read.format("snapshotfeed")
        .option("changeFeed", "true")
        .option("startingVersion", "3")
        .load(t2)
    )
    got = sorted((r["k"], r["v"], r["_change_type"], ) for r in feed.collect())
    assert got == [(2, 20, "insert"), (2, 99, "delete")], got


def test_datasource_writer_keeps_change_data_feed(spark, tmp_path):
    """A ``snapshotfeed`` append on a change-data-feed table keeps the
    flag, so a later rewrite still materializes its change rows and the
    changeFeed replays it; an overwrite, whose netted replace diff the
    SparkSession-less writer cannot compute, is refused and leaves the
    head where it was."""
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import snapshot_version

    feedsource.register(spark)
    tdir = str(tmp_path / "tbl")
    snapshot_write(
        _batch(spark, 0, 10).coalesce(1), tdir, stats_cols=["k"], change_files=True
    )                                                                          # v1
    snapshot_append(_batch(spark, 10, 20).coalesce(1), tdir)                   # v2
    _batch(spark, 20, 30).write.format("snapshotfeed").mode("append").save(tdir)  # v3
    assert read_manifest(tdir, 3).get("cdf") is True
    snapshot_upsert(
        spark, tdir,
        _batch(spark, 5, 6).select("k", (F.col("v") + 1).alias("v")), key="k",
    )                                                                          # v4
    rows = (
        spark.read.format("snapshotfeed")
        .option("changeFeed", "true")
        .option("startingVersion", "4")
        .load(tdir)
        .collect()
    )
    assert {(r["k"], r["v"], r["_change_type"], r["_commit_version"]) for r in rows} == {
        (5, 10.0, "update_preimage", 4),
        (5, 11.0, "update_postimage", 4),
    }
    with pytest.raises(Exception, match="storage.snapshot_write"):
        _batch(spark, 0, 3).write.format("snapshotfeed").mode("overwrite").save(tdir)
    assert snapshot_version(spark, tdir) == 4
