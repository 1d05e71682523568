"""Storage tests: salted joins must equal plain joins row-for-row, the
staged swap is crash-safe, and the snapshot tables keep their commit
protocol."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from f1_data_pipeline_spark.catalog import load_tables
from f1_data_pipeline_spark.storage import salted_join
from tests.conftest import SF_DIR


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_salted_join_equals_plain_join(spark):
    t = load_tables(spark, SF_DIR)
    plain = t.orders.join(t.nation, t.orders.o_custkey % 25 == t.nation.n_nationkey)
    left = t.orders.withColumn("k", F.col("o_custkey") % 25)
    right = t.nation.withColumnRenamed("n_nationkey", "k")
    salted = salted_join(left, right, "k", num_salts=4)
    assert salted.count() == plain.count()
    a = sorted(
        (r["o_orderkey"], r["n_name"]) for r in salted.select("o_orderkey", "n_name").collect()
    )
    b = sorted(
        (r["o_orderkey"], r["n_name"]) for r in plain.select("o_orderkey", "n_name").collect()
    )
    assert a == b


def test_partitioned_write_prunes_scan(spark, tmp_path):
    """Partition pruning: a filter on the partition column appears in
    PartitionFilters and the scan lists only matching directories."""
    from f1_data_pipeline_spark.storage import write_partitioned

    t = load_tables(spark, SF_DIR)
    path = str(tmp_path / "events_by_type")
    write_partitioned(t.events, path, ["event_type"])
    df = spark.read.parquet(path).where(F.col("event_type") == "click")
    plan = _plan(df)
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:120]
    # pruned read returns exactly the clicks
    assert df.count() == t.events.where("event_type = 'click'").count()
    import os
    # physical layout: one directory per event_type
    dirs = [d for d in os.listdir(path) if d.startswith("event_type=")]
    assert len(dirs) == t.events.select("event_type").distinct().count()


def test_compact_swap_is_crash_safe(spark, tmp_path, monkeypatch):
    """The two-rename swap under ``sinks.upsert_parquet`` never deletes the
    original before the replacement is installed: a failure installing the
    staged copy rolls the original back; success leaves no
    __swap_old/__swap_tmp residue."""
    import os

    from f1_data_pipeline_spark.sinks import upsert_parquet
    from f1_data_pipeline_spark.storage import SWAP_OLD_SUFFIX, SWAP_TMP_SUFFIX

    t = load_tables(spark, SF_DIR)
    path = str(tmp_path / "ds")
    t.nation.repartition(4).write.parquet(path)
    rows = spark.read.parquet(path).count()

    # leave a stale __swap_old from a "previous crash"; it must be cleared
    os.makedirs(path + SWAP_OLD_SUFFIX + "/junk", exist_ok=True)

    real_rename = os.rename
    def failing_rename(src, dst):
        if src.endswith(SWAP_TMP_SUFFIX):
            raise OSError("simulated crash installing staged copy")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    import pytest as _pytest
    with _pytest.raises(OSError, match="simulated crash"):
        upsert_parquet(spark, t.nation, path, keys=["n_nationkey"])
    monkeypatch.undo()

    # original dataset survived the failed swap, fully readable
    assert spark.read.parquet(path).count() == rows

    upsert_parquet(spark, t.nation, path, keys=["n_nationkey"])
    assert spark.read.parquet(path).count() == rows
    assert not os.path.exists(path + SWAP_OLD_SUFFIX)
    assert not os.path.exists(path + SWAP_TMP_SUFFIX)


def test_swap_orphan_recovers_on_next_call(spark, tmp_path):
    """A crash BETWEEN the two renames (base moved aside, stage not yet
    installed) leaves no dataset at path — the next upsert_parquet() call
    must restore the original and proceed, not fail on a missing path."""
    import os

    from f1_data_pipeline_spark.sinks import upsert_parquet
    from f1_data_pipeline_spark.storage import SWAP_OLD_SUFFIX, recover_swap

    t = load_tables(spark, SF_DIR)
    path = str(tmp_path / "ds")
    t.nation.repartition(4).write.parquet(path)
    rows = spark.read.parquet(path).count()

    # simulate the mid-swap crash state: base renamed aside, nothing at path
    os.rename(path, path + SWAP_OLD_SUFFIX)
    assert not os.path.exists(path)

    # self-heals first: the merge sees the original rows, not an empty table
    upsert_parquet(spark, t.nation.limit(0), path, keys=["n_nationkey"])
    assert spark.read.parquet(path).count() == rows
    assert not os.path.exists(path + SWAP_OLD_SUFFIX)

    # recover_swap is a no-op when the dataset is intact
    assert recover_swap(path) is False


def test_salted_join_spreads_pathological_hot_key(spark):
    """One key owning 50% of the fact side: salting must (a) keep row
    parity with the plain join and (b) cut the largest shuffle group —
    what one task must consume — down to ~1/num_salts of the hot key."""
    n, num_salts = 20_000, 8
    fact = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id") % 100).alias("k"),
        (F.col("id") * 3).alias("v"),
    )
    dim = spark.range(100).select(F.col("id").alias("k"), (F.col("id") + 1000).alias("w"))

    plain = fact.join(dim.hint("merge"), "k")
    salted = salted_join(fact, dim.hint("merge"), "k", num_salts=num_salts)
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))

    # shuffle-group sizes: plain groups by k (hot key = n/2 rows in ONE
    # group); salted groups by (k, salt) — no group may exceed ~2x the
    # ideal hot/num_salts split
    lsalt = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(num_salts))
    groups = fact.withColumn("__salt", lsalt).groupBy("k", "__salt").count()
    max_group = groups.agg(F.max("count")).collect()[0][0]
    hot = n // 2
    assert max_group <= 2 * hot / num_salts, (
        f"largest salted shuffle group {max_group} exceeds 2x the ideal "
        f"{hot}/{num_salts} split"
    )


# --- snapshot tables (versioned parquet + atomic manifest) -----------------


def test_snapshot_write_read_time_travel(spark, tmp_path):
    from f1_data_pipeline_spark.storage import (
        snapshot_read,
        snapshot_version,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    v1 = snapshot_write(spark.range(5).withColumnRenamed("id", "k"), tdir)
    v2 = snapshot_write(spark.range(8).withColumnRenamed("id", "k"), tdir)
    assert (v1, v2) == (1, 2)
    assert snapshot_version(spark, tdir) == 2
    assert snapshot_read(spark, tdir).count() == 8  # latest
    assert snapshot_read(spark, tdir, version=1).count() == 5  # time travel


def test_snapshot_crashed_writer_invisible(spark, tmp_path):
    """A v=N directory without a committed manifest must never be read:
    simulate a writer that died after staging but before the manifest
    rename — readers still see the previous version."""
    import os
    import json

    from f1_data_pipeline_spark.storage import snapshot_read, snapshot_write

    tdir = str(tmp_path / "tbl")
    snapshot_write(spark.range(3).withColumnRenamed("id", "k"), tdir)
    # orphan stage: data + _SUCCESS present, manifest never updated
    orphan = os.path.join(tdir, "v=2")
    spark.range(99).withColumnRenamed("id", "k").write.parquet(orphan)
    assert os.path.exists(os.path.join(orphan, "_SUCCESS"))
    assert snapshot_read(spark, tdir).count() == 3
    # the commit log holds exactly one record — the orphan was never
    # committed (ignore the local FS's hidden .crc checksum sidecars)
    records = [n for n in os.listdir(os.path.join(tdir, "_manifests")) if not n.startswith(".")]
    assert sorted(records) == ["1.json"]
    with open(os.path.join(tdir, "_manifests", "1.json")) as f:
        assert json.load(f)["version"] == 1
    # the next commit FAILS FAST on the orphan (it is indistinguishable
    # from a concurrent writer's staging dir — the optimistic-concurrency
    # guard); the error names the remedy, and after deleting the orphan
    # the commit proceeds as version 2
    import shutil

    import pytest

    with pytest.raises(RuntimeError, match="v=2 already exists"):
        snapshot_write(spark.range(4).withColumnRenamed("id", "k"), tdir)
    shutil.rmtree(orphan)
    v = snapshot_write(spark.range(4).withColumnRenamed("id", "k"), tdir)
    assert v == 2
    assert snapshot_read(spark, tdir).count() == 4


def test_snapshot_write_refuses_concurrent_stage(spark, tmp_path):
    """Two writers that both read version N must not both stage v=N+1:
    the second to arrive fails fast instead of overwriting the first
    mid-write (r5 advisor finding)."""
    import os

    import pytest

    from f1_data_pipeline_spark.storage import SnapshotConflictError, snapshot_write

    tdir = str(tmp_path / "tbl")
    snapshot_write(spark.range(3).withColumnRenamed("id", "k"), tdir)
    os.makedirs(os.path.join(tdir, "v=2"))  # writer A is staging
    with pytest.raises(SnapshotConflictError, match="concurrent writer"):
        snapshot_write(spark.range(5).withColumnRenamed("id", "k"), tdir)


def test_snapshot_commit_race_is_typed_and_retryable(spark, tmp_path, monkeypatch):
    """Optimistic concurrency (r8 judge ask #3): a commit-record race —
    the interloper's record appearing AFTER our writer staged but before
    it committed — raises the TYPED SnapshotConflictError, and a blind
    full-replace writer with retries= re-claims the next version after
    cleaning its orphan stage — while a CAS writer (expected_version=)
    must NOT auto-retry its stale derivation."""
    import json
    import os

    import pytest

    import f1_data_pipeline_spark.storage as S
    from f1_data_pipeline_spark.storage import (
        SnapshotConflictError,
        snapshot_read,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(spark.range(3).withColumnRenamed("id", "k"), tdir)
    schema = _manifest(tdir, 1)["schema"]

    # interleave: an interloper publishes the v=2 commit record while our
    # writer is between staging and committing (the narrowest race the
    # atomic create has to break)
    real_entries = S._staged_file_entries
    fired = {"done": False}

    def racy_entries(sp, table_dir, version, stats_cols):
        if not fired["done"]:
            fired["done"] = True
            with open(os.path.join(tdir, "_manifests", "2.json"), "w") as f:
                json.dump(
                    {"version": 2, "dir": "v=1", "files": [], "schema": schema,
                     "op": "restamp"},
                    f,
                )
        return real_entries(sp, table_dir, version, stats_cols)

    monkeypatch.setattr(S, "_staged_file_entries", racy_entries)
    with pytest.raises(SnapshotConflictError, match="committed first"):
        snapshot_write(spark.range(5).withColumnRenamed("id", "k"), tdir)
    monkeypatch.setattr(S, "_staged_file_entries", real_entries)
    # the loser's orphan stage was cleaned — nothing trips the next claim
    assert not os.path.exists(os.path.join(tdir, "v=2"))
    # blind writer with retries survives the same interleave: cleans up,
    # re-reads (now at v=2), commits as v=3
    fired["done"] = False
    fired2 = {"n": 0}

    def racy_entries2(sp, table_dir, version, stats_cols):
        fired2["n"] += 1
        if fired2["n"] == 1:
            with open(os.path.join(tdir, "_manifests", "3.json"), "w") as f:
                json.dump(
                    {"version": 3, "dir": "v=1", "files": [], "schema": schema,
                     "op": "restamp"},
                    f,
                )
        return real_entries(sp, table_dir, version, stats_cols)

    monkeypatch.setattr(S, "_staged_file_entries", racy_entries2)
    v = snapshot_write(spark.range(5).withColumnRenamed("id", "k"), tdir, retries=2)
    monkeypatch.setattr(S, "_staged_file_entries", real_entries)
    assert v == 4
    assert snapshot_read(spark, tdir).count() == 5
    # CAS writer: stale expected_version fails fast, even with the table
    # otherwise quiescent — and never silently retries
    with pytest.raises(SnapshotConflictError, match="derived its write from"):
        snapshot_write(
            spark.range(9).withColumnRenamed("id", "k"), tdir, expected_version=1
        )
    with pytest.raises(ValueError, match="mutually exclusive"):
        snapshot_write(
            spark.range(9).withColumnRenamed("id", "k"),
            tdir,
            expected_version=4,
            retries=1,
        )
    # fresh CAS against the true current version commits normally
    v5 = snapshot_write(
        spark.range(7).withColumnRenamed("id", "k"), tdir, expected_version=4
    )
    assert v5 == 5
    # the hard-link publication leaves no temp litter in the commit log
    leftovers = [
        n for n in os.listdir(os.path.join(tdir, "_manifests")) if n.endswith(".tmp")
    ]
    assert leftovers == []


def test_snapshot_vacuum_keeps_recent(spark, tmp_path):
    import pytest

    from f1_data_pipeline_spark.storage import (
        snapshot_read,
        snapshot_vacuum,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    for n in (2, 4, 6, 8):
        snapshot_write(spark.range(n).withColumnRenamed("id", "k"), tdir)
    removed = snapshot_vacuum(spark, tdir, keep_last=2)
    assert removed == [1, 2]
    assert snapshot_read(spark, tdir).count() == 8
    assert snapshot_read(spark, tdir, version=3).count() == 6
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, tdir, version=1)
    # keep_last=0 is clamped to 1: the committed version always survives
    assert snapshot_vacuum(spark, tdir, keep_last=0) == [3]
    assert snapshot_read(spark, tdir).count() == 8


def test_snapshot_roundtrip_through_file_uri(spark, tmp_path):
    """The commit log must work on URI paths, not just driver-local ones:
    every touch goes through the path's own Hadoop FileSystem, so a
    `file:` URI (the same resolution path `hdfs://`/`s3a://` would take)
    round-trips — write, version listing, time travel, vacuum."""
    from f1_data_pipeline_spark.storage import (
        snapshot_read,
        snapshot_vacuum,
        snapshot_version,
        snapshot_write,
    )

    tdir = "file://" + str(tmp_path / "tbl_uri")
    for n in (3, 6, 9):
        snapshot_write(spark.range(n).withColumnRenamed("id", "k"), tdir)
    assert snapshot_version(spark, tdir) == 3
    assert snapshot_read(spark, tdir).count() == 9
    assert snapshot_read(spark, tdir, version=1).count() == 3
    assert snapshot_vacuum(spark, tdir, keep_last=1) == [1, 2]
    assert snapshot_read(spark, tdir).count() == 9


# --- manifest file lists: data skipping + copy-on-write upsert --------------


def _manifest(tdir, v):
    import json
    import os

    with open(os.path.join(tdir, "_manifests", f"{v}.json")) as f:
        return json.load(f)


def _keyed(spark, lo, hi, tag="base"):
    from pyspark.sql import functions as F

    return (
        spark.range(lo, hi)
        .withColumnRenamed("id", "k")
        .withColumn("v", F.concat(F.lit(tag + "-"), F.col("k")))
    )


def test_snapshot_write_records_file_stats(spark, tmp_path):
    """The commit record carries an explicit file list with rows/bytes and,
    when asked, per-file min/max — the manifest level a 100 TB reader
    prunes at before listing or opening anything."""
    from f1_data_pipeline_spark.storage import snapshot_write

    tdir = str(tmp_path / "tbl")
    df = _keyed(spark, 0, 1000).repartitionByRange(4, "k")
    snapshot_write(df, tdir, stats_cols=["k"])
    m = _manifest(tdir, 1)
    files = m["files"]
    assert len(files) == 4
    assert sum(e["rows"] for e in files) == 1000
    assert all(e["bytes"] > 0 for e in files)
    envelopes = sorted((e["stats"]["k"]["min"], e["stats"]["k"]["max"]) for e in files)
    # range-partitioned by k: disjoint, covering envelopes
    assert envelopes[0][0] == 0 and envelopes[-1][1] == 999
    for (lo1, hi1), (lo2, _) in zip(envelopes, envelopes[1:]):
        assert hi1 < lo2
    assert "schema" in m


def test_snapshot_read_where_skips_files(spark, tmp_path):
    """Manifest-level data skipping: a selective predicate reads only the
    files whose [min,max] envelope can match — and the result is exactly
    the filtered table (the same predicate also runs as a real filter)."""
    from f1_data_pipeline_spark.storage import snapshot_read, snapshot_write

    tdir = str(tmp_path / "tbl")
    full = _keyed(spark, 0, 1000).repartitionByRange(8, "k")
    snapshot_write(full, tdir, stats_cols=["k"])
    pruned = snapshot_read(spark, tdir, where=[("k", ">=", 900)])
    assert len(snapshot_read(spark, tdir).inputFiles()) == 8
    assert len(pruned.inputFiles()) < 8
    # the residual predicate must ALSO reach the scan as a pushed filter
    # (manifest skipping prunes files, the footer prunes row groups)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(k,900)" in plan.split("PushedFilters")[1][:120], plan
    expect = sorted(r["k"] for r in snapshot_read(spark, tdir).where("k >= 900").collect())
    assert sorted(r["k"] for r in pruned.collect()) == expect
    # equality prunes to (at most) one file
    one = snapshot_read(spark, tdir, where=[("k", "=", 123)])
    assert len(one.inputFiles()) == 1
    assert [r["v"] for r in one.collect()] == ["base-123"]
    # a predicate no envelope satisfies: zero files, correct empty schema
    none = snapshot_read(spark, tdir, where=[("k", ">", 10_000)])
    assert none.count() == 0
    assert none.columns == ["k", "v"]


def test_snapshot_upsert_is_copy_on_write(spark, tmp_path):
    """Only files whose key envelope intersects the update keys are
    rewritten; every other file is carried into the new manifest BY
    REFERENCE — its bytes never move, and time travel still sees the old
    version."""
    import glob

    from f1_data_pipeline_spark.storage import (
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(_keyed(spark, 0, 1000).repartitionByRange(8, "k"), tdir, stats_cols=["k"])
    before = {e["path"]: e for e in _manifest(tdir, 1)["files"]}

    updates = _keyed(spark, 995, 1005, tag="upd")  # touches only the top file
    v = snapshot_upsert(spark, tdir, updates, key="k")
    assert v == 2
    after = _manifest(tdir, 2)["files"]
    carried = [e for e in after if e["path"].startswith("v=1/")]
    staged = [e for e in after if e["path"].startswith("v=2/")]
    assert len(carried) == 7 and staged  # 7 of 8 files never moved
    for e in carried:
        assert before[e["path"]] == e  # stats/rows/bytes carried verbatim
    assert not any(
        f.endswith(tuple(e["path"].rsplit("/", 1)[-1] for e in carried))
        for f in glob.glob(f"{tdir}/v=2/*.parquet")
    )

    cur = snapshot_read(spark, tdir)
    assert cur.count() == 1005
    got = {r["k"]: r["v"] for r in cur.where("k >= 990").collect()}
    assert got[994] == "base-994" and got[995] == "upd-995" and got[1004] == "upd-1004"
    # old version untouched
    old = snapshot_read(spark, tdir, version=1)
    assert old.count() == 1000
    assert old.where("k = 995").head()["v"] == "base-995"
    # carried stats still prune on the new version
    assert len(snapshot_read(spark, tdir, where=[("k", "=", 3)]).inputFiles()) == 1


def test_snapshot_upsert_contract_errors(spark, tmp_path):
    import pytest

    from f1_data_pipeline_spark.storage import snapshot_upsert, snapshot_write

    tdir = str(tmp_path / "tbl")
    snapshot_write(_keyed(spark, 0, 100), tdir)  # no stats
    with pytest.raises(ValueError, match="stats"):
        snapshot_upsert(spark, tdir, _keyed(spark, 0, 5, "u"), key="k")

    tdir2 = str(tmp_path / "tbl2")
    snapshot_write(_keyed(spark, 0, 100), tdir2, stats_cols=["k"])
    dup = _keyed(spark, 0, 5, "u").union(_keyed(spark, 4, 6, "u"))
    with pytest.raises(ValueError, match="duplicate"):
        snapshot_upsert(spark, tdir2, dup, key="k")
    from pyspark.sql import functions as F

    nulls = _keyed(spark, 0, 5, "u").withColumn(
        "k", F.when(F.col("k") == 2, None).otherwise(F.col("k"))
    )
    with pytest.raises(ValueError, match="NULL"):
        snapshot_upsert(spark, tdir2, nulls, key="k")


def test_snapshot_vacuum_respects_carried_references(spark, tmp_path):
    """Reachability-based vacuum: files an upserted version carries from an
    old directory SURVIVE vacuuming that version's directory; only the
    unreferenced (rewritten) files are reclaimed."""
    import glob

    import pytest

    from f1_data_pipeline_spark.storage import (
        snapshot_read,
        snapshot_upsert,
        snapshot_vacuum,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(_keyed(spark, 0, 1000).repartitionByRange(8, "k"), tdir, stats_cols=["k"])
    snapshot_upsert(spark, tdir, _keyed(spark, 0, 5, "u"), key="k")  # touches low file(s)
    v1_files_before = len(glob.glob(f"{tdir}/v=1/*.parquet"))
    removed = snapshot_vacuum(spark, tdir, keep_last=1)
    assert removed == [1]
    v1_files_after = glob.glob(f"{tdir}/v=1/*.parquet")
    # the carried files survive in place; at least the rewritten one is gone
    assert 0 < len(v1_files_after) < v1_files_before
    cur = snapshot_read(spark, tdir)
    assert cur.count() == 1000
    assert cur.where("k = 3").head()["v"] == "u-3"
    assert cur.where("k = 500").head()["v"] == "base-500"
    # time travel to the vacuumed version now fails: its rewritten file is gone
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, tdir, version=1).count()


def test_snapshot_compact_after_upsert_preserves_data_and_stats(spark, tmp_path):
    """Compaction (``snapshot_optimize`` packing every file) reads
    THROUGH the manifest (post-upsert data spans several v= dirs) and
    re-derives the manifest's stats columns so the table keeps its
    skipping power."""
    import glob

    from f1_data_pipeline_spark.storage import (
        snapshot_optimize,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(_keyed(spark, 0, 1000).repartitionByRange(8, "k"), tdir, stats_cols=["k"])
    snapshot_upsert(spark, tdir, _keyed(spark, 100, 110, "u"), key="k")
    v, _rewritten, carried = snapshot_optimize(spark, tdir, target_file_bytes=1 << 30)
    assert (v, carried) == (3, 0)
    assert len(glob.glob(f"{tdir}/v=3/*.parquet")) == 1
    cur = snapshot_read(spark, tdir)
    assert cur.count() == 1000
    assert cur.where("k = 105").head()["v"] == "u-105"
    m = _manifest(tdir, 3)
    assert all("k" in e["stats"] for e in m["files"] if e["rows"] > 0)


def test_snapshot_upsert_roundtrip_through_file_uri(spark, tmp_path):
    """The copy-on-write path is URI-capable end-to-end: manifest read,
    envelope join, staging, carried references, vacuum."""
    from f1_data_pipeline_spark.storage import (
        snapshot_read,
        snapshot_upsert,
        snapshot_vacuum,
        snapshot_write,
    )

    tdir = "file://" + str(tmp_path / "tbl_uri")
    snapshot_write(_keyed(spark, 0, 400).repartitionByRange(4, "k"), tdir, stats_cols=["k"])
    v = snapshot_upsert(spark, tdir, _keyed(spark, 398, 402, "u"), key="k")
    assert v == 2
    cur = snapshot_read(spark, tdir)
    assert cur.count() == 402
    assert cur.where("k = 399").head()["v"] == "u-399"
    assert len(snapshot_read(spark, tdir, where=[("k", "=", 1)]).inputFiles()) == 1
    assert snapshot_vacuum(spark, tdir, keep_last=1) == [1]
    assert snapshot_read(spark, tdir).count() == 402


def test_snapshot_delete_copy_on_write(spark, tmp_path):
    """Predicate delete with the copy-on-write cost model: files whose
    envelope proves no match are carried by reference; only candidates
    are rewritten; rows where the predicate is NULL survive (SQL DELETE
    semantics); a provably-no-match delete is a version no-op."""
    import pytest

    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.storage import (
        snapshot_delete,
        snapshot_read,
        snapshot_version,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    df = _keyed(spark, 0, 1000).withColumn(
        "score", F.when(F.col("k") % 100 == 0, None).otherwise(F.col("k") % 7)
    ).repartitionByRange(8, "k")
    snapshot_write(df, tdir, stats_cols=["k"])

    # targeted delete: k in [990, 1000) — one file's envelope
    v, n = snapshot_delete(spark, tdir, [("k", ">=", 990)])
    assert (v, n) == (2, 10)
    m = _manifest(tdir, 2)
    assert sum(e["path"].startswith("v=1/") for e in m["files"]) == 7
    cur = snapshot_read(spark, tdir)
    assert cur.count() == 990
    assert cur.where("k >= 990").count() == 0
    # NULL-predicate rows survive: score is NULL at multiples of 100
    v, n = snapshot_delete(spark, tdir, [("score", "=", 3)])
    assert n == cur.where("score = 3").count() > 0
    left = snapshot_read(spark, tdir)
    assert left.where("score = 3").count() == 0
    assert left.where("score IS NULL").count() == 10  # k=0,100,...,900 kept
    # provably-no-match: no new version
    before = snapshot_version(spark, tdir)
    v, n = snapshot_delete(spark, tdir, [("k", ">", 10_000)])
    assert (v, n) == (before, 0)
    assert snapshot_version(spark, tdir) == before
    # old versions time-travel across deletes
    assert snapshot_read(spark, tdir, version=1).count() == 1000


def test_snapshot_history_reports_lineage(spark, tmp_path):
    """History comes from manifests alone: per-version totals, staged vs
    carried file split, and (opt-in) availability that flips once vacuum
    reclaims a version's data."""
    from f1_data_pipeline_spark.storage import (
        snapshot_history,
        snapshot_upsert,
        snapshot_vacuum,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(_keyed(spark, 0, 1000).repartitionByRange(8, "k"), tdir, stats_cols=["k"])
    snapshot_upsert(spark, tdir, _keyed(spark, 0, 5, "u"), key="k", cluster_files=1)
    h = snapshot_history(spark, tdir, check_available=True)
    assert [r["version"] for r in h] == [1, 2]
    assert h[0]["rows"] == 1000 and h[0]["n_staged"] == 8 and h[0]["n_carried"] == 0
    assert h[1]["rows"] == 1000 and h[1]["n_staged"] == 1 and h[1]["n_carried"] == 7
    assert all(r["available"] for r in h)
    snapshot_vacuum(spark, tdir, keep_last=1)
    h2 = snapshot_history(spark, tdir, check_available=True)
    assert h2[0]["available"] is False  # v1's rewritten file was reclaimed
    assert h2[1]["available"] is True


def test_snapshot_restore_is_zero_copy(spark, tmp_path):
    """RESTORE commits the old version's file list under a new version
    number: no data moves (n_staged == 0 in history), the restored state
    reads back exactly, reachability vacuum protects the restored files,
    and restoring into a vacuumed hole refuses."""
    import pytest

    from f1_data_pipeline_spark.storage import (
        snapshot_history,
        snapshot_read,
        snapshot_restore,
        snapshot_upsert,
        snapshot_vacuum,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(_keyed(spark, 0, 1000).repartitionByRange(8, "k"), tdir, stats_cols=["k"])
    snapshot_upsert(spark, tdir, _keyed(spark, 0, 5, "u"), key="k", cluster_files=1)
    assert snapshot_read(spark, tdir).where("k = 3").head()["v"] == "u-3"

    v = snapshot_restore(spark, tdir, 1)
    assert v == 3
    cur = snapshot_read(spark, tdir)
    assert cur.count() == 1000
    assert cur.where("k = 3").head()["v"] == "base-3"  # pre-upsert state
    h = {r["version"]: r for r in snapshot_history(spark, tdir)}
    assert h[3]["n_staged"] == 0 and h[3]["n_carried"] == 8  # zero-copy
    # stats carried: skipping still works on the restored version
    assert len(snapshot_read(spark, tdir, where=[("k", "=", 3)]).inputFiles()) == 1
    # the rolled-back-over upsert stays time-travelable
    assert snapshot_read(spark, tdir, version=2).where("k = 3").head()["v"] == "u-3"
    # vacuum keeps every v=1 file (current references all of them), and
    # reclaims v=2's rewrite
    snapshot_vacuum(spark, tdir, keep_last=1)
    assert snapshot_read(spark, tdir).count() == 1000
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, tdir, version=2).count()
    # restoring INTO the vacuumed hole refuses with the reason
    with pytest.raises(FileNotFoundError, match="no longer fully present"):
        snapshot_restore(spark, tdir, 2)


def test_snapshot_upsert_pure_insert_touches_nothing(spark, tmp_path):
    """Updates whose keys land outside every file envelope rewrite ZERO
    existing files: the staged version holds only the new rows and every
    prior file is carried by reference."""
    from f1_data_pipeline_spark.storage import (
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(_keyed(spark, 0, 1000).repartitionByRange(8, "k"), tdir, stats_cols=["k"])
    snapshot_upsert(spark, tdir, _keyed(spark, 5000, 5005, "new"), key="k")
    m = _manifest(tdir, 2)
    assert sum(e["path"].startswith("v=1/") for e in m["files"]) == 8  # all carried
    staged_rows = sum(e["rows"] for e in m["files"] if e["path"].startswith("v=2/"))
    assert staged_rows == 5
    cur = snapshot_read(spark, tdir)
    assert cur.count() == 1005
    assert cur.where("k = 5002").head()["v"] == "new-5002"


def test_snapshot_stats_on_zorder_clustering_prune_both_dimensions(spark, tmp_path):
    """The two layout levers compose: Z-order clustering gives every file
    a tight envelope in EVERY interleaved dimension, so a snapshot
    manifest with stats on both columns skips files for predicates on
    either one — where a single-column sort can only ever skip on its
    sort key (the second dimension's envelopes span the full range)."""
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.operators.layout import bucketize, interleave_bits
    from f1_data_pipeline_spark.storage import snapshot_read, snapshot_write

    n = 64 * 64
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    zkey = interleave_bits(
        [bucketize(F.col("x"), 0, 64, 6), bucketize(F.col("y"), 0, 64, 6)], bits=6
    )
    zdir = str(tmp_path / "ztbl")
    clustered = (
        df.withColumn("__z", zkey)
        .repartitionByRange(16, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    snapshot_write(clustered, zdir, stats_cols=["x", "y"])

    sdir = str(tmp_path / "stbl")  # single-column sort: x only
    snapshot_write(df.repartitionByRange(16, "x"), sdir, stats_cols=["x", "y"])

    def files(tdir, where):
        return len(snapshot_read(spark, tdir, where=where).inputFiles())

    # predicate on x: both layouts skip
    assert files(zdir, [("x", "<", 8)]) < 16
    assert files(sdir, [("x", "<", 8)]) < 16
    # predicate on y: ONLY the z-ordered layout skips
    assert files(zdir, [("y", "<", 8)]) < 16
    assert files(sdir, [("y", "<", 8)]) == 16
    # results identical to brute filters either way
    got = sorted(
        (r["x"], r["y"]) for r in snapshot_read(spark, zdir, where=[("y", "<", 8)]).collect()
    )
    want = sorted((r["x"], r["y"]) for r in df.where("y < 8").collect())
    assert got == want


def test_snapshot_apply_cdc_mixed_batch_one_commit(spark, tmp_path):
    """A folded I/U/D changelog lands in ONE copy-on-write version:
    upserts replace, inserts add, tombstones remove — against one shared
    touched-file set, with untouched files carried by reference. A
    pure-delete of absent keys is a version no-op."""
    import pytest

    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.storage import (
        snapshot_apply_cdc,
        snapshot_read,
        snapshot_version,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(_keyed(spark, 0, 1000).repartitionByRange(8, "k"), tdir, stats_cols=["k"])

    changes = spark.createDataFrame(
        [(3, "upd-3", "U"), (1001, "new-1001", "I"), (5, None, "D")],
        "k long, v string, op string",
    )
    v = snapshot_apply_cdc(spark, tdir, changes, key="k")
    assert v == 2
    cur = {r["k"]: r["v"] for r in snapshot_read(spark, tdir).collect()}
    assert len(cur) == 1000  # 1000 - 1 delete + 1 insert
    assert cur[3] == "upd-3" and cur[1001] == "new-1001" and 5 not in cur
    carried = [
        e for e in _manifest(tdir, 2)["files"] if e["path"].startswith("v=1/")
    ]
    assert carried  # files outside the change keys' envelopes never moved
    assert snapshot_read(spark, tdir, version=1).count() == 1000

    # pure delete of keys the envelopes prove absent: no new version
    ghost = spark.createDataFrame([(50_000, None, "D")], "k long, v string, op string")
    assert snapshot_apply_cdc(spark, tdir, ghost, key="k") == 2
    assert snapshot_version(spark, tdir) == 2
    # nor of a key inside a file's envelope that no live row holds (5 was
    # deleted above): the touched file is read, but nothing changes
    gone = spark.createDataFrame([(5, None, "D")], "k long, v string, op string")
    assert snapshot_apply_cdc(spark, tdir, gone, key="k") == 2
    assert snapshot_version(spark, tdir) == 2

    # a key appearing twice (even as U then D) is an unfolded log: refuse
    unfolded = spark.createDataFrame(
        [(7, "x", "U"), (7, None, "D")], "k long, v string, op string"
    )
    with pytest.raises(ValueError, match="duplicate"):
        snapshot_apply_cdc(spark, tdir, unfolded, key="k")

    # a NULL op is not provably a delete: the row upserts instead of
    # silently vanishing from both sides (bare isin is NULL on NULL)
    nullop = spark.createDataFrame(
        [(9, "nullop-9", None)], "k long, v string, op string"
    )
    snapshot_apply_cdc(spark, tdir, nullop, key="k")
    assert snapshot_read(spark, tdir).where("k = 9").head()["v"] == "nullop-9"


def test_snapshot_upsert_coalesce_merge_mode(spark, tmp_path):
    """merge_mode='coalesce' is the K5 partial-update shape: a NULL in the
    update keeps the stored value, non-NULLs overwrite, new keys insert —
    while 'replace' (default) overwrites the whole row. Copy-on-write
    carrying is unchanged."""
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.storage import snapshot_read, snapshot_upsert, snapshot_write

    def table(tag):
        tdir = str(tmp_path / tag)
        base = spark.createDataFrame(
            [(i, f"a-{i}", i * 10) for i in range(100)], "k long, v string, n long"
        )
        snapshot_write(base.repartitionByRange(4, "k"), tdir, stats_cols=["k"])
        return tdir

    updates = spark.createDataFrame(
        [(7, None, 777), (8, "upd-8", None), (200, "new-200", None)],
        "k long, v string, n long",
    )

    t1 = table("coalesce")
    snapshot_upsert(spark, t1, updates, key="k", merge_mode="coalesce")
    got = {r["k"]: (r["v"], r["n"]) for r in snapshot_read(spark, t1).collect()}
    assert len(got) == 101
    assert got[7] == ("a-7", 777)        # NULL v kept stored value
    assert got[8] == ("upd-8", 80)       # NULL n kept stored value
    assert got[200] == ("new-200", None) # pure insert keeps its NULLs
    assert got[9] == ("a-9", 90)         # untouched

    t2 = table("replace")
    snapshot_upsert(spark, t2, updates, key="k")  # default replace
    got = {r["k"]: (r["v"], r["n"]) for r in snapshot_read(spark, t2).collect()}
    assert got[7] == (None, 777) and got[8] == ("upd-8", None)

    import pytest

    with pytest.raises(ValueError, match="merge_mode"):
        snapshot_upsert(spark, t2, updates, key="k", merge_mode="bogus")


def test_snapshot_changes_net_row_level_feed(spark, tmp_path):
    """Change feed between versions: insert / delete / update pre+post
    rows, net semantics across a span, and rewritten-but-identical
    survivor rows never surface."""
    from f1_data_pipeline_spark.storage import (
        snapshot_changes,
        snapshot_delete,
        snapshot_upsert,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(
        _keyed(spark, 0, 1000).repartitionByRange(8, "k"), tdir, stats_cols=["k"]
    )
    # v2: update k=995..999, insert k=1000..1004 (one touched file)
    snapshot_upsert(spark, tdir, _keyed(spark, 995, 1005, tag="upd"), key="k")
    # v3: delete k=3
    snapshot_delete(spark, tdir, where=[("k", "=", 3)])

    c12 = snapshot_changes(spark, tdir, "k", 1, 2)
    by_type = {
        t: sorted(r["k"] for r in rows)
        for t, rows in __import__("itertools").groupby(
            sorted(c12.collect(), key=lambda r: r["_change_type"]),
            key=lambda r: r["_change_type"],
        )
    }
    assert by_type["insert"] == [1000, 1001, 1002, 1003, 1004]
    assert by_type["update_preimage"] == [995, 996, 997, 998, 999]
    assert by_type["update_postimage"] == [995, 996, 997, 998, 999]
    assert "delete" not in by_type
    pre = {r["k"]: r["v"] for r in c12.where("_change_type = 'update_preimage'").collect()}
    post = {r["k"]: r["v"] for r in c12.where("_change_type = 'update_postimage'").collect()}
    assert pre[995] == "base-995" and post[995] == "upd-995"

    c23 = snapshot_changes(spark, tdir, "k", 2, 3)
    rows = c23.collect()
    assert [(r["k"], r["_change_type"], r["v"]) for r in rows] == [
        (3, "delete", "base-3")
    ]

    # net across the span: the same update/insert set plus the delete
    c13 = snapshot_changes(spark, tdir, "k", 1, 3)
    net = {(r["k"], r["_change_type"]) for r in c13.collect()}
    assert (3, "delete") in net and (1000, "insert") in net
    assert (995, "update_preimage") in net and (995, "update_postimage") in net
    # rewritten survivors (e.g. k=990..994 shared the touched file) absent
    assert not {k for k, t in net if t.startswith("update")} - set(range(995, 1000))


def test_snapshot_changes_skips_carried_files(spark, tmp_path):
    """Files carried by reference between the endpoint manifests are
    never opened: the feed's input files are only the endpoint-unique
    ones."""
    from f1_data_pipeline_spark.storage import (
        snapshot_changes,
        snapshot_upsert,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(
        _keyed(spark, 0, 1000).repartitionByRange(8, "k"), tdir, stats_cols=["k"]
    )
    snapshot_upsert(spark, tdir, _keyed(spark, 995, 1005, tag="upd"), key="k")
    m1 = {e["path"] for e in _manifest(tdir, 1)["files"]}
    m2 = {e["path"] for e in _manifest(tdir, 2)["files"]}
    diff_paths = {p.rsplit("/", 1)[-1] for p in (m1 ^ m2)}
    feed = snapshot_changes(spark, tdir, "k", 1, 2)
    opened = {f.rsplit("/", 1)[-1] for f in feed.inputFiles()}
    assert opened and opened <= diff_paths
    # 7 of 8 v1 files were carried: none of them opened
    assert len(m1 & m2) == 7


def test_snapshot_upsert_schema_evolution(spark, tmp_path):
    """evolve_schema=True adds new columns (carried files read NULL),
    null-fills omitted ones, and updates the manifest's read contract;
    without it a mismatched batch raises instead of dropping columns."""
    import pytest
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.storage import (
        snapshot_changes,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(
        _keyed(spark, 0, 1000).repartitionByRange(8, "k"), tdir, stats_cols=["k"]
    )
    widened = _keyed(spark, 995, 1005, tag="upd").withColumn(
        "score", F.col("k").cast("double") / 10
    )
    with pytest.raises(ValueError, match="evolve_schema"):
        snapshot_upsert(spark, tdir, widened, key="k")
    with pytest.raises(ValueError, match="evolve_schema"):
        snapshot_upsert(spark, tdir, widened.drop("v"), key="k")

    v = snapshot_upsert(spark, tdir, widened, key="k", evolve_schema=True)
    cur = snapshot_read(spark, tdir, version=v)
    assert cur.columns == ["k", "v", "score"]
    assert cur.count() == 1005
    got = {r["k"]: (r["v"], r["score"]) for r in cur.where("k >= 994 or k = 3").collect()}
    assert got[3] == ("base-3", None)  # carried file: evolved column NULL
    assert got[994] == ("base-994", None)  # rewritten survivor row
    assert got[1004] == ("upd-1004", 100.4)
    # time travel to the pre-evolution version keeps the old shape
    assert snapshot_read(spark, tdir, version=1).columns == ["k", "v"]
    # the feed speaks the evolved schema too
    ins = snapshot_changes(spark, tdir, "k", 1, v).where("_change_type = 'insert'")
    assert {r["score"] for r in ins.where("k = 1000").collect()} == {100.0}

    # a later batch OMITTING the evolved column null-fills it
    v3 = snapshot_upsert(
        spark, tdir, _keyed(spark, 0, 2, tag="late"), key="k", evolve_schema=True
    )
    got3 = {r["k"]: (r["v"], r["score"]) for r in
            snapshot_read(spark, tdir, version=v3).where("k <= 2").collect()}
    assert got3[0] == ("late-0", None) and got3[2] == ("base-2", None)


def test_snapshot_delete_preserves_evolved_columns(spark, tmp_path):
    """A delete that rewrites a MIXED set of files (pre- and
    post-evolution) must not lose evolved-column values to footer
    inference."""
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.storage import (
        snapshot_delete,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(_keyed(spark, 0, 100).coalesce(1), tdir, stats_cols=["k"])
    widened = _keyed(spark, 50, 150, tag="upd").withColumn(
        "score", F.lit(1.5) + F.col("k")
    )
    snapshot_upsert(spark, tdir, widened, key="k", evolve_schema=True)
    v, deleted = snapshot_delete(spark, tdir, where=[("k", "=", 10)])
    assert deleted == 1
    cur = snapshot_read(spark, tdir, version=v)
    assert cur.where("k = 10").count() == 0
    assert cur.where("k = 60").head()["score"] == 61.5  # survived the rewrite
    assert cur.count() == 149


def test_snapshot_bloom_point_lookup_skips_files(spark, tmp_path):
    """Per-file Bloom filters prune point lookups on a HASH-DISTRIBUTED
    key — where min/max envelopes span everything and prune nothing.
    Misses prove absence (exactness never depends on the filter), and
    the spec survives upsert, delete, and compaction."""
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.storage import (
        snapshot_delete,
        snapshot_optimize,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )
    from tests.reference_forms import manifest_blooms

    # hash-distributed string key: every file's [min,max] covers ~the
    # whole domain, so stats alone cannot skip a point lookup
    df = (
        spark.range(0, 2000)
        .select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("h"),
            F.concat(F.lit("v-"), F.col("id")).alias("v"),
        )
        .repartition(8)  # hash layout — adversarial for min/max
    )
    tdir = str(tmp_path / "tbl")
    snapshot_write(df, tdir, stats_cols=["h"], bloom_cols=["h"])

    import hashlib

    probe = hashlib.md5(b"123").hexdigest()
    total = len(snapshot_read(spark, tdir).inputFiles())
    got = snapshot_read(spark, tdir, where=[("h", "=", probe)])
    assert [r["k"] for r in got.collect()] == [123]
    opened = len(got.inputFiles())
    assert opened < total, (opened, total)  # bloom pruned hash layout

    # stats alone would NOT have pruned: every envelope spans the probe
    absent = snapshot_read(spark, tdir, where=[("h", "=", "0" * 32)])
    assert absent.count() == 0  # miss is exact regardless of pruning

    # maintenance keeps the skipping power: upsert, delete, compact
    ups = (
        spark.range(5000, 5003)
        .select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("h"),
            F.lit("new").alias("v"),
        )
    )
    snapshot_upsert(spark, tdir, ups, key="h", cluster_files=2)
    p2 = hashlib.md5(b"5001").hexdigest()
    got2 = snapshot_read(spark, tdir, where=[("h", "=", p2)])
    assert [r["v"] for r in got2.collect()] == ["new"]
    assert len(got2.inputFiles()) < len(snapshot_read(spark, tdir).inputFiles())

    snapshot_delete(spark, tdir, where=[("h", "=", probe)])
    assert snapshot_read(spark, tdir, where=[("h", "=", probe)]).count() == 0

    v, rewritten, _carried = snapshot_optimize(
        spark, tdir, target_file_bytes=8 * 1024, small_file_bytes=1 << 30
    )
    assert rewritten > 0
    got3 = snapshot_read(spark, tdir, where=[("h", "=", p2)])
    assert [r["v"] for r in got3.collect()] == ["new"]
    blooms = manifest_blooms(tdir, v)
    assert blooms, "compacted version lost its bloom entries"


def test_where_in_multi_key_lookup_prunes_files(spark, tmp_path):
    """The 'in' where-op: a K-key point lookup opens only files whose
    Bloom filter might hold one of the keys (hash layout — envelopes
    span everything) or whose envelope admits one (range layout); rows
    are exact either way, and snapshot_count stays metadata-bounded."""
    import hashlib

    from f1_data_pipeline_spark.storage import (
        snapshot_count,
        snapshot_read,
        snapshot_write,
    )

    # range-clustered table: envelope pruning carries 'in'
    rng = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    rdir = str(tmp_path / "rng")
    snapshot_write(rng.repartitionByRange(8, "k"), rdir, stats_cols=["k"])
    got = snapshot_read(spark, rdir, where=[("k", "in", [3, 4, 1999])])
    assert sorted(r["k"] for r in got.collect()) == [3, 4, 1999]
    total = len(snapshot_read(spark, rdir).inputFiles())
    assert len(got.inputFiles()) < total  # interior files never opened
    # count trichotomy: same pruning, exact answer, bounded scan
    assert snapshot_count(spark, rdir, where=[("k", "in", [3, 4, 1999])]) == 3
    assert snapshot_count(spark, rdir, where=[("k", "in", [-5, 9999])]) == 0

    # hash-distributed key: Bloom misses prune where envelopes cannot
    hsh = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("h"),
    ).repartition(8)
    hdir = str(tmp_path / "hsh")
    snapshot_write(hsh, hdir, stats_cols=["h"], bloom_cols=["h"])
    probes = [hashlib.md5(str(i).encode()).hexdigest() for i in (7, 1234)]
    got = snapshot_read(spark, hdir, where=[("h", "in", probes)])
    assert sorted(r["k"] for r in got.collect()) == [7, 1234]
    assert len(got.inputFiles()) < len(snapshot_read(spark, hdir).inputFiles())
    # all-absent probe set: every file bloom-disproven, zero files read
    absent = snapshot_read(spark, hdir, where=[("h", "in", ["0" * 32, "f" * 32])])
    assert absent.count() == 0 and absent.inputFiles() == []

    # malformed lists fail typed, never silently scan-and-guess
    with pytest.raises(ValueError, match="non-empty list"):
        snapshot_read(spark, rdir, where=[("k", "in", [])]).count()


def test_bloom_positions_agree_spark_and_python(spark):
    """The driver-side probe and the executor-side build must derive the
    SAME bit positions or pruning silently breaks."""
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.storage import _bloom_positions

    m, h = 1024, 4
    vals = ["abc", "123", "", "Ω-unicode", "42"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    pos_cols = [
        (
            F.conv(
                F.substring(F.md5(F.concat(F.col("s"), F.lit(f"|{j}"))), 1, 13),
                16,
                10,
            ).cast("long")
            % m
        ).alias(f"p{j}")
        for j in range(h)
    ]
    got = {r["s"]: [r[f"p{j}"] for j in range(h)] for r in df.select("s", *pos_cols).collect()}
    for v in vals:
        assert got[v] == _bloom_positions(v, m, h), v


def test_snapshot_optimize_packs_only_small_files(spark, tmp_path):
    """Bin-packing OPTIMIZE: small files coalesce into ~target-sized
    ones, adequately-sized files are carried BY REFERENCE (entries
    verbatim, bytes unmoved), content is identical, skipping stats and
    Bloom filters survive, and a tail-free table is a no-op."""
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_optimize,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )
    from tests.reference_forms import manifest_blooms

    tdir = str(tmp_path / "tbl")
    # one adequately-sized file + a long tail of tiny upsert commits
    snapshot_write(
        _keyed(spark, 0, 5000).coalesce(1).withColumn(
            "h", F.md5(F.col("k").cast("string"))
        ),
        tdir,
        stats_cols=["k"],
        bloom_cols=["h"],
    )
    for i in range(4):  # 4 trickle upserts -> 4+ tiny files
        ups = _keyed(spark, 10000 + i, 10001 + i, tag=f"t{i}").withColumn(
            "h", F.md5(F.col("k").cast("string"))
        )
        snapshot_upsert(spark, tdir, ups, key="k", cluster_files=1)
    before = snapshot_read(spark, tdir)
    n_before = len(before.inputFiles())
    rows_before = {(r["k"], r["v"]) for r in before.collect()}
    m = read_manifest(tdir, 5)
    big = [e for e in m["files"] if e["bytes"] >= 16 * 1024]
    assert big, "fixture needs at least one adequately-sized file"

    v, rewritten, carried_n = snapshot_optimize(
        spark, tdir, target_file_bytes=256 * 1024, small_file_bytes=16 * 1024
    )
    assert rewritten >= 4 and carried_n == len(big)
    after = snapshot_read(spark, tdir)
    assert {(r["k"], r["v"]) for r in after.collect()} == rows_before
    assert len(after.inputFiles()) < n_before
    m2 = read_manifest(tdir, v)
    carried_entries = [e for e in m2["files"] if not e["path"].startswith(f"v={v}/")]
    by_path = {e["path"]: e for e in m["files"]}
    for e in carried_entries:
        assert by_path[e["path"]] == e  # stats/bloom/bytes ride verbatim
    # skipping survives: stats prune a range probe, blooms a point probe
    assert len(
        snapshot_read(spark, tdir, where=[("k", "=", 3)]).inputFiles()
    ) < len(after.inputFiles())
    import hashlib

    probe = hashlib.md5(b"3").hexdigest()
    got = snapshot_read(spark, tdir, where=[("h", "=", probe)])
    assert [r["k"] for r in got.collect()] == [3]
    assert manifest_blooms(tdir, v)

    # second run: tail is gone, optimize is a version-preserving no-op
    v2, rw2, _ = snapshot_optimize(
        spark, tdir, target_file_bytes=256 * 1024, small_file_bytes=16 * 1024
    )
    assert (v2, rw2) == (v, 0)

    # history records the optimize lineage
    from f1_data_pipeline_spark.storage import snapshot_history

    hist = {h["version"]: h for h in snapshot_history(spark, tdir)}
    assert hist[v].get("optimized_from") == v - 1


def test_bloom_probe_type_safety_and_validation(spark, tmp_path):
    """A literal whose stringification can't match the build cast must
    NOT prune (false negatives are wrong results, not slow ones);
    unsupported key types and ragged bit widths fail before staging."""
    import pytest
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.storage import snapshot_read, snapshot_write

    tdir = str(tmp_path / "tbl")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.col("id").cast("string").alias("ks"),
        (F.col("id") * 1.0).alias("d"),
    )
    # float / bool / ragged-width specs are rejected up front
    with pytest.raises(ValueError, match="string and integral"):
        snapshot_write(df, str(tmp_path / "bad1"), bloom_cols=["d"])
    with pytest.raises(ValueError, match="multiple of 64"):
        snapshot_write(df, str(tmp_path / "bad2"), bloom_cols=["k"], bloom_bits=1000)

    snapshot_write(df.repartition(4), tdir, bloom_cols=["k", "ks"], bloom_bits=1024)
    # well-typed probes prune and stay exact
    got = snapshot_read(spark, tdir, where=[("k", "=", 37)])
    assert [r["ks"] for r in got.collect()] == ["37"]
    assert len(got.inputFiles()) < 4
    # cross-typed probes (str literal on the integral col, int on the
    # string col, bool) must not prune — the residual filter decides
    # cross-typed probes: int literal on the string col, str literal on
    # the integral col — Spark's implicit casts make the PREDICATE match,
    # so a bloom false-negative would silently empty the result
    for col, val in [("ks", 37), ("k", "37")]:
        r = snapshot_read(spark, tdir, where=[(col, "=", val)])
        assert len(r.inputFiles()) == 4, (col, val)  # no pruning attempted
        assert r.count() == 1, (col, val)  # and the result stays exact


def test_bloom_table_survives_pure_delete_cdc_batch(spark, tmp_path):
    """A CDC batch that deletes every row of its touched files (staging
    zero data files) must still commit on a bloom-enabled table."""
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.storage import (
        snapshot_apply_cdc,
        snapshot_read,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v")
    )
    snapshot_write(
        base.repartitionByRange(4, "k"), tdir, stats_cols=["k"], bloom_cols=["v"]
    )
    # delete the entire first file's key range, no upserts
    dels = spark.range(0, 25).select(
        F.col("id").alias("k"),
        F.lit(None).cast("string").alias("v"),
        F.lit("D").alias("op"),
    )
    v = snapshot_apply_cdc(spark, tdir, dels, key="k")
    assert v == 2
    assert snapshot_read(spark, tdir).count() == 75


# ---------------------------------------------------------------------------
# deletion vectors (merge-on-read deletes)
# ---------------------------------------------------------------------------


def _dv_table(spark, tmp_path, n=100, files=4):
    from f1_data_pipeline_spark.storage import snapshot_write

    tdir = str(tmp_path / "dvtbl")
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 7).cast("string").alias("g"),
            (F.col("id") * 1.5).alias("x"),
        )
        .repartitionByRange(files, "k")
    )
    snapshot_write(df, tdir, stats_cols=["k"])
    return tdir


def test_snapshot_delete_dv_mode_rewrites_nothing(spark, tmp_path):
    """mode='dv' commits scattered deletes WITHOUT touching any data
    file: the new manifest references the identical file list, readers
    subtract positions, time travel still sees the rows, and repeated /
    no-match deletes behave like their copy-on-write twins."""
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_delete,
        snapshot_read,
        snapshot_version,
    )

    tdir = _dv_table(spark, tmp_path)
    m1 = read_manifest(tdir, 1)

    v, n_del = snapshot_delete(spark, tdir, [("g", "=", "3")], mode="dv")
    assert v == 2 and n_del == len([i for i in range(100) if i % 7 == 3])
    m2 = read_manifest(tdir, 2)
    assert m2["files"] == m1["files"]  # zero data files rewritten
    assert m2["dv"]["deleted"] == n_del
    cur = {r["k"] for r in snapshot_read(spark, tdir).collect()}
    assert cur == {i for i in range(100) if i % 7 != 3}
    # time travel: v1 still sees everything
    assert snapshot_read(spark, tdir, version=1).count() == 100
    # where-filtered read composes with the DV subtraction
    assert snapshot_read(spark, tdir, where=[("k", "<", 10)]).count() == len(
        [i for i in range(10) if i % 7 != 3]
    )

    # a second scattered delete ACCUMULATES (and never double-counts
    # rows the first one already removed)
    v3, n3 = snapshot_delete(spark, tdir, [("k", "<", 5)], mode="dv")
    assert v3 == 3 and n3 == len([i for i in range(5) if i % 7 != 3])
    cur = {r["k"] for r in snapshot_read(spark, tdir).collect()}
    assert cur == {i for i in range(5, 100) if i % 7 != 3}
    # re-deleting the same predicate is a no-op, no empty commit
    v4, n4 = snapshot_delete(spark, tdir, [("k", "<", 5)], mode="dv")
    assert (v4, n4) == (3, 0)
    assert snapshot_version(spark, tdir) == 3


def test_snapshot_dv_upsert_purges_touched_and_keeps_carried(spark, tmp_path):
    """An upsert over a DV'd table must not resurrect deleted rows in the
    files it rewrites, must purge those files' DV entries, and must carry
    the untouched files' entries."""
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_delete,
        snapshot_read,
        snapshot_upsert,
    )

    tdir = _dv_table(spark, tmp_path)
    snapshot_delete(spark, tdir, [("g", "=", "3")], mode="dv")
    gone = {i for i in range(100) if i % 7 == 3}

    # touch only the low key band (files are range-clustered on k)
    ups = spark.createDataFrame(
        [(k, "upd", 9.9) for k in (1, 2, 4)], "k long, g string, x double"
    )
    v = snapshot_upsert(spark, tdir, ups, key="k", cluster_files=1)
    m = read_manifest(tdir, v)
    cur = {r["k"]: r for r in snapshot_read(spark, tdir).collect()}
    assert set(cur) == ({i for i in range(100)} - gone) | {1, 2, 4}
    assert cur[1]["g"] == "upd" and cur[4]["x"] == 9.9
    # deleted rows in the touched band did NOT resurrect
    assert 3 not in cur and 10 not in cur
    # DV entries now reference only carried files
    carried = {e["path"] for e in m["files"]}
    assert m.get("dv"), "carried files keep their deletion-vector entries"
    assert set(m["dv"]["files"]) <= carried
    assert m["dv"]["deleted"] < len(gone)  # touched files' entries purged


def test_snapshot_dv_change_feed_emits_deletes(spark, tmp_path):
    """A DV commit changes no files, so the change feed must derive its
    delete events from the deletion-vector delta — and a restore across
    a DV version surfaces the rows as re-inserts."""
    from f1_data_pipeline_spark.storage import (
        snapshot_changes,
        snapshot_delete,
        snapshot_read,
        snapshot_restore,
    )

    tdir = _dv_table(spark, tmp_path, n=40, files=2)
    snapshot_delete(spark, tdir, [("k", ">=", 35)], mode="dv")
    feed = snapshot_changes(spark, tdir, "k", 1, 2).collect()
    assert {r["_change_type"] for r in feed} == {"delete"}
    assert {r["k"] for r in feed} == {35, 36, 37, 38, 39}

    # net span across dv-delete + a later dv-delete
    snapshot_delete(spark, tdir, [("k", "<", 3)], mode="dv")
    feed = snapshot_changes(spark, tdir, "k", 1, 3).collect()
    assert {r["k"] for r in feed} == {0, 1, 2, 35, 36, 37, 38, 39}
    assert {r["_change_type"] for r in feed} == {"delete"}

    # restore back to v1: the feed v3 -> v4 resurrects them as inserts
    v4 = snapshot_restore(spark, tdir, 1)
    assert snapshot_read(spark, tdir).count() == 40
    feed = snapshot_changes(spark, tdir, "k", 3, v4).collect()
    assert {r["_change_type"] for r in feed} == {"insert"}
    assert {r["k"] for r in feed} == {0, 1, 2, 35, 36, 37, 38, 39}


def test_snapshot_dv_optimize_and_compact_purge_debt(spark, tmp_path):
    """Physical maintenance materializes deletion vectors: optimize
    purges the packed files' entries (carrying the rest), and a full
    rewrite (``dv_fraction=0``) leaves the table with NO deletion vector
    at all."""
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_delete,
        snapshot_optimize,
        snapshot_read,
        snapshot_version,
    )

    tdir = _dv_table(spark, tmp_path)
    snapshot_delete(spark, tdir, [("g", "=", "3")], mode="dv")
    live = {i for i in range(100) if i % 7 != 3}

    # every file is small: optimize packs them all -> debt fully purged
    v, rewritten, carried = snapshot_optimize(spark, tdir, target_file_bytes=1 << 20)
    assert rewritten > 0
    m = read_manifest(tdir, v)
    assert m.get("dv") is None
    assert {r["k"] for r in snapshot_read(spark, tdir).collect()} == live

    # dv again, then a full rewrite of every file with debt: also purged
    snapshot_delete(spark, tdir, [("k", "=", 50)], mode="dv")
    v2, rewritten2, _ = snapshot_optimize(
        spark, tdir, target_file_bytes=1 << 20, dv_fraction=0.0
    )
    assert rewritten2 > 0
    m2 = read_manifest(tdir, v2)
    assert m2.get("dv") is None
    assert {r["k"] for r in snapshot_read(spark, tdir).collect()} == live - {50}


def test_snapshot_dv_vacuum_protects_referenced_vectors(spark, tmp_path):
    """Vacuum must keep the deletion-vector datasets kept manifests still
    reference — including one carried into a newer version by restore —
    while still sweeping unreachable data."""
    from f1_data_pipeline_spark.storage import (
        snapshot_delete,
        snapshot_read,
        snapshot_restore,
        snapshot_vacuum,
        snapshot_write,
    )

    tdir = _dv_table(spark, tmp_path, n=40, files=2)
    snapshot_delete(spark, tdir, [("k", ">=", 35)], mode="dv")  # v2 (+ dv in v=2)
    snapshot_restore(spark, tdir, 2)  # v3 references v=2/_dv
    snapshot_write(
        snapshot_read(spark, tdir), tdir, stats_cols=["k"]
    )  # v4 (fresh files)
    snapshot_restore(spark, tdir, 3)  # v5: current again references v=2/_dv
    snapshot_vacuum(spark, tdir, keep_last=2)  # keeps v4, v5
    assert {r["k"] for r in snapshot_read(spark, tdir).collect()} == set(range(35))


def test_snapshot_timestamp_as_of_and_history_ts(spark, tmp_path):
    """Commit records carry wall-clock stamps: TIMESTAMP AS OF resolves
    the version committed at-or-before a time, history surfaces the
    stamps, and pre-first-commit times raise."""
    import time

    import pytest

    from f1_data_pipeline_spark.storage import (
        snapshot_history,
        snapshot_read,
        snapshot_version_asof,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    before = time.time() - 1.0
    marks = []
    for n in (3, 5, 9):
        snapshot_write(spark.range(n).withColumnRenamed("id", "k"), tdir)
        marks.append(time.time())
        time.sleep(0.05)
    assert snapshot_version_asof(spark, tdir, marks[0]) == 1
    assert snapshot_version_asof(spark, tdir, marks[1]) == 2
    assert snapshot_version_asof(spark, tdir, time.time() + 60) == 3
    assert snapshot_read(spark, tdir, as_of_ts=marks[1]).count() == 5
    with pytest.raises(FileNotFoundError, match="at or before"):
        snapshot_version_asof(spark, tdir, before)
    with pytest.raises(ValueError, match="not both"):
        snapshot_read(spark, tdir, version=1, as_of_ts=marks[0])
    hist = snapshot_history(spark, tdir)
    ts = [h["ts"] for h in hist]
    assert len(ts) == 3 and ts == sorted(ts)


def test_snapshot_vacuum_dry_run_reports_without_deleting(spark, tmp_path):
    import os

    from f1_data_pipeline_spark.storage import (
        snapshot_read,
        snapshot_vacuum,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    for n in (3, 5, 9):
        snapshot_write(spark.range(n).withColumnRenamed("id", "k"), tdir)
    would = snapshot_vacuum(spark, tdir, keep_last=1, dry_run=True)
    assert would == [1, 2]
    # nothing was touched: every version still time-travels
    assert snapshot_read(spark, tdir, version=1).count() == 3
    assert snapshot_read(spark, tdir, version=2).count() == 5
    did = snapshot_vacuum(spark, tdir, keep_last=1)
    assert did == would
    assert not os.path.exists(os.path.join(tdir, "v=1"))


def test_snapshot_optimize_zorder_clusters_packed_files(spark, tmp_path):
    """OPTIMIZE ... ZORDER BY: the packed small-file tail is re-clustered
    on the interleaved key, so BOTH dimensions' per-file envelopes
    tighten and a 2-D point read prunes files — while carried big files
    and the data itself are untouched (content equality pinned)."""
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_optimize,
        snapshot_read,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    df = spark.range(4000).select(
        F.col("id").alias("k"),
        (F.col("id") % 64).cast("double").alias("xx"),
        ((F.col("id") * 7) % 64).cast("double").alias("yy"),
    )
    # many tiny hash-scattered files: the adversarial layout
    snapshot_write(df.repartition(16), tdir, stats_cols=["xx", "yy"])
    before = set(map(tuple, snapshot_read(spark, tdir).collect()))
    v, rewritten, carried = snapshot_optimize(
        spark, tdir, target_file_bytes=16_384, zorder_by=["xx", "yy"]
    )
    assert rewritten == 16
    assert set(map(tuple, snapshot_read(spark, tdir).collect())) == before
    m = read_manifest(tdir, v)
    # clustered envelopes: a 2-D point lookup must prune most files
    out = snapshot_read(
        spark, tdir, where=[("xx", "=", 3.0), ("yy", "=", 21.0)]
    )
    n_files = len(m["files"])
    assert n_files > 1
    assert len(out.inputFiles()) < n_files
    # schema unchanged (the __z helper must not leak into the table)
    assert sorted(snapshot_read(spark, tdir).columns) == ["k", "xx", "yy"]


def test_snapshot_null_count_stats_prune_is_null_reads(spark, tmp_path):
    """Per-file null counts in the manifest: IS NULL reads skip files
    with zero nulls, IS NOT NULL reads skip all-null files, the residual
    filter keeps results exact, and pre-r9 manifests (no nulls key)
    simply never prune (safe fallback)."""
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_read,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    # file layout by k-range: k<300 has NO nulls in v; 300<=k<600 is ALL
    # null; 600+ mixed
    df = spark.range(900).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 300, F.col("id").cast("string"))
        .when(F.col("id") < 600, F.lit(None).cast("string"))
        .otherwise(
            F.when(F.col("id") % 2 == 0, F.col("id").cast("string"))
        )
        .alias("v"),
    ).repartitionByRange(3, "k")
    snapshot_write(df, tdir, stats_cols=["k", "v"])
    m = read_manifest(tdir, 1)
    assert all("nulls" in e["stats"]["v"] for e in m["files"])
    n_files = len(m["files"])
    assert n_files == 3

    nulls = snapshot_read(spark, tdir, where=[("v", "is_null", None)])
    assert len(nulls.inputFiles()) < n_files  # the no-null file skipped
    assert nulls.count() == 300 + 150
    assert {r["k"] for r in nulls.collect()} == set(range(300, 600)) | {
        k for k in range(600, 900) if k % 2 == 1
    }

    notnull = snapshot_read(spark, tdir, where=[("v", "is_not_null", None)])
    assert len(notnull.inputFiles()) < n_files  # the all-null file skipped
    assert notnull.count() == 300 + 150

    # composes with range predicates
    both = snapshot_read(
        spark, tdir, where=[("v", "is_not_null", None), ("k", "<", 100)]
    )
    assert len(both.inputFiles()) == 1 and both.count() == 100

    # pre-r9 manifest shape (no nulls key): never prunes, still exact
    import json
    import os

    with open(os.path.join(tdir, "_manifests", "1.json")) as f:
        payload = json.load(f)
    for e in payload["files"]:
        for c in e["stats"].values():
            c.pop("nulls", None)
    os.remove(os.path.join(tdir, "_manifests", "1.json"))
    with open(os.path.join(tdir, "_manifests", "1.json"), "w") as f:
        json.dump(payload, f)
    legacy = snapshot_read(spark, tdir, where=[("v", "is_null", None)])
    assert len(legacy.inputFiles()) == n_files
    assert legacy.count() == 450


def test_snapshot_dv_broadcast_gate(spark, tmp_path, monkeypatch):
    """The DV anti-join broadcasts only while the manifest's deleted
    total stays under DV_BROADCAST_MAX_POSITIONS; a mass DV (forced here
    by lowering the gate) must fall back to a plain shuffled anti-join —
    a 50M-position DV forced through a broadcast would OOM the driver at
    exactly the scale merge-on-read targets. Results are identical on
    both paths."""
    import f1_data_pipeline_spark.storage as S
    from f1_data_pipeline_spark.storage import snapshot_delete, snapshot_read

    tdir = _dv_table(spark, tmp_path)
    snapshot_delete(spark, tdir, [("g", "=", "3")], mode="dv")
    gone = {i for i in range(100) if i % 7 == 3}

    # emulate "DV past the stats-based broadcast size": with auto-broadcast
    # off, ONLY the explicit hint can force a BroadcastExchange — exactly
    # the planner state a 50M-position DV would produce
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # under the gate: the hint is applied, the subtraction broadcasts
        plan_small = (
            snapshot_read(spark, tdir)._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan_small or "BroadcastExchange" in plan_small

        # above the gate (forced by lowering it below the manifest's
        # deleted total): the hint must be withheld — plain shuffled join
        monkeypatch.setattr(S, "DV_BROADCAST_MAX_POSITIONS", 1)
        big = snapshot_read(spark, tdir)
        plan_big = big._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan_big
        assert "BroadcastExchange" not in plan_big
        assert {r["k"] for r in big.collect()} == set(range(100)) - gone
        # the delete path's dedupe anti-join honors the same gate
        v, n = snapshot_delete(spark, tdir, [("k", "<", 5)], mode="dv")
        assert n == len([i for i in range(5) if i % 7 != 3])
        assert {r["k"] for r in snapshot_read(spark, tdir).collect()} == {
            i for i in range(5, 100) if i % 7 != 3
        }
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_snapshot_optimize_zorder_null_bounds(spark, tmp_path):
    """ZORDER columns with NULL min/max in the packed tail (all-NULL
    column, or a tail fully emptied by deletion-vector subtraction) must
    not crash the interleave on None arithmetic: the dead column's term
    is skipped, and with no usable column the pack degrades to plain
    coalesce — both still commit a correct version."""
    from f1_data_pipeline_spark.storage import (
        snapshot_delete,
        snapshot_optimize,
        snapshot_read,
        snapshot_write,
    )

    # all-NULL zorder column across many small files
    tdir = str(tmp_path / "znull")
    df = spark.range(40).select(
        F.col("id").alias("k"),
        F.lit(None).cast("double").alias("dead"),
        (F.col("id") % 5).alias("grp"),
    ).repartition(8)
    snapshot_write(df, tdir, stats_cols=["k"])
    v, rewritten, carried = snapshot_optimize(
        spark, tdir, target_file_bytes=1 << 30, zorder_by=["dead", "k"]
    )
    assert rewritten == 8 and snapshot_read(spark, tdir).count() == 40

    # packed tail emptied by a DV: every small-file row deleted
    tdir2 = str(tmp_path / "zempty")
    snapshot_write(
        spark.range(40).select(F.col("id").alias("k")).repartition(4),
        tdir2,
        stats_cols=["k"],
    )
    snapshot_delete(spark, tdir2, [("k", ">=", 0)], mode="dv")
    v2, _, _ = snapshot_optimize(
        spark, tdir2, target_file_bytes=1 << 30, zorder_by=["k"]
    )
    assert snapshot_read(spark, tdir2).count() == 0


def test_commit_nonconflict_link_failure_fails_loudly(spark, tmp_path, monkeypatch):
    """Only a LOST RACE maps to SnapshotConflictError; an IO/config
    failure publishing the commit record (permissions, cross-device tmp,
    no hard-link support) must surface as a plain RuntimeError so
    retries aren't burned and maintainers don't swallow it forever."""
    import pytest

    from f1_data_pipeline_spark import snaplog
    from f1_data_pipeline_spark.storage import (
        SnapshotConflictError,
        snapshot_version,
        snapshot_write,
    )

    tdir = str(tmp_path / "linkfail")
    df = spark.range(10).select(F.col("id").alias("k"))
    real_link = snaplog._link

    # scenario 1: the COMMIT RECORD's link fails (claim succeeds)
    def broken_record_link(src, dst):
        if str(dst).endswith(".json"):
            raise OSError("Invalid cross-device link")
        return real_link(src, dst)

    monkeypatch.setattr(snaplog, "_link", broken_record_link)
    with pytest.raises(RuntimeError) as ei:
        snapshot_write(df, tdir, retries=3)
    assert not isinstance(ei.value, SnapshotConflictError)
    assert "non-conflict" in str(ei.value)
    monkeypatch.undo()

    # scenario 2: the STAGING CLAIM's link fails — same trichotomy, same
    # loud non-conflict error (a conflict mapping would burn the retries)
    tdir2 = str(tmp_path / "claimfail")

    def broken_claim_link(src, dst):
        raise OSError("Invalid cross-device link")

    monkeypatch.setattr(snaplog, "_link", broken_claim_link)
    with pytest.raises(RuntimeError) as ei:
        snapshot_write(df, tdir2, retries=3)
    assert not isinstance(ei.value, SnapshotConflictError)
    assert "non-conflict" in str(ei.value)
    monkeypatch.undo()
    # the failure left a never-committed orphan stage; per the staging
    # error's own instruction it is safe to delete, after which the
    # table is writable again
    assert snapshot_version(spark, tdir) == 0
    import shutil

    shutil.rmtree(f"{tdir}/v=1")
    assert snapshot_write(df, tdir) == 1


def test_snapshot_optimize_dv_fraction_trigger(spark, tmp_path):
    """OPTIMIZE with dv_fraction bounds deletion-vector debt by POLICY:
    a well-sized file whose deleted fraction exceeds the threshold is
    rewritten (survivors materialized, its DV entries purged) even
    though size-packing would never touch it; under-threshold files are
    carried untouched with their entries intact."""
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_delete,
        snapshot_optimize,
        snapshot_read,
        snapshot_write,
    )

    tdir = str(tmp_path / "dvopt")
    # 4 range-clustered files of 25 rows each, all "well-sized" for the
    # tiny target used below
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("string").alias("g")
    ).repartitionByRange(4, "k")
    snapshot_write(df, tdir, stats_cols=["k"])
    # heavy debt in file 0 (k<20 → 20/25 deleted), light debt in file 3
    snapshot_delete(spark, tdir, [("k", "<", 20)], mode="dv")
    snapshot_delete(spark, tdir, [("k", "=", 90)], mode="dv")
    v0 = 3
    m0 = read_manifest(tdir, v0)
    by_key = {e["path"]: e for e in m0["files"]}
    heavy = [k for k, c in m0["dv"]["files"].items() if c / by_key[k]["rows"] >= 0.5]
    light = [k for k, c in m0["dv"]["files"].items() if c / by_key[k]["rows"] < 0.5]
    assert heavy and light

    # without the trigger: nothing small enough to pack → no-op
    v, rewritten, carried = snapshot_optimize(spark, tdir, small_file_bytes=1)
    assert (v, rewritten) == (v0, 0)

    # with the trigger: ONLY the heavy file rewrites; its entries purge
    v, rewritten, carried = snapshot_optimize(
        spark, tdir, small_file_bytes=1, dv_fraction=0.5
    )
    assert v == v0 + 1 and rewritten == len(heavy) and carried == 3
    m = read_manifest(tdir, v)
    paths = {e["path"] for e in m["files"]}
    assert not set(heavy) & paths  # heavy file replaced by its survivors
    assert set(light) <= paths  # light file carried by reference
    assert set(m["dv"]["files"]) == set(light)  # debt purged, light entries kept
    assert {r["k"] for r in snapshot_read(spark, tdir).collect()} == (
        set(range(20, 100)) - {90}
    )
    # time travel still sees the pre-optimize state
    assert snapshot_read(spark, tdir, version=1).count() == 100


def test_snapshot_version_asof_clamps_clock_skew(spark, tmp_path):
    """Writer clock skew must not resolve an as-of to a version that was
    never current at that time: commit times are clamped to the running
    maximum (Delta's monotonicity enforcement), so a version stamped
    EARLIER than its predecessor inherits the predecessor's effective
    time. Unstamped pre-stamp-era records stay infinitely old."""
    import json
    import os

    from f1_data_pipeline_spark.storage import (
        snapshot_version_asof,
        snapshot_write,
    )

    tdir = str(tmp_path / "skew")
    for i in range(3):
        snapshot_write(
            spark.range(5).select((F.col("id") + i).alias("k")), tdir
        )

    def restamp(v, ts):
        p = os.path.join(tdir, "_manifests", f"{v}.json")
        with open(p) as f:
            m = json.load(f)
        if ts is None:
            m.pop("ts", None)
        else:
            m["ts"] = ts
        os.replace(p + ".tmp", p) if False else None
        with open(p, "w") as f:
            json.dump(m, f)

    # v1@1000, v2@2000, v3@1500 (skewed writer stamped v3 in the past)
    restamp(1, 1000.0)
    restamp(2, 2000.0)
    restamp(3, 1500.0)
    # at t=1700 the table's visible state was v1 (v2 committed at 2000,
    # and v3 — whatever its skewed stamp says — committed after v2);
    # unclamped resolution would wrongly return v3 (1500 <= 1700)
    assert snapshot_version_asof(spark, tdir, 1700.0) == 1
    # at the clamped time (v3 inherits v2's 2000) both v2 and v3
    # qualify; the latest wins
    assert snapshot_version_asof(spark, tdir, 2000.0) == 3
    assert snapshot_version_asof(spark, tdir, 1000.0) == 1

    # unstamped records are infinitely old: they never block the scan
    restamp(1, None)
    assert snapshot_version_asof(spark, tdir, 999.0) == 1
    assert snapshot_version_asof(spark, tdir, 1700.0) == 1


# ---------------------------------------------------------------------------
# MERGE INTO (tri-clause)
# ---------------------------------------------------------------------------


def _merge_table(spark, tmp_path, name="mrg"):
    from f1_data_pipeline_spark.storage import snapshot_write

    tdir = str(tmp_path / name)
    df = spark.createDataFrame(
        [(k, "old", float(k)) for k in range(1, 9)], "k long, tag string, val double"
    ).repartitionByRange(2, "k")
    snapshot_write(df, tdir, stats_cols=["k"])
    return tdir


def test_snapshot_merge_update_insert_defaults(spark, tmp_path):
    """Default clauses = UPSERT: matched rows replaced from the source,
    unmatched source rows inserted (null-filling table columns the
    source lacks), untouched target rows carried; metrics observed
    inside the single staging pass."""
    from f1_data_pipeline_spark.storage import snapshot_merge, snapshot_read

    tdir = _merge_table(spark, tmp_path)
    src = spark.createDataFrame(
        [(2, "new", 20.0), (9, "new", 90.0)], "k long, tag string, val double"
    )
    v, m = snapshot_merge(spark, tdir, src, key="k")
    assert v == 2
    assert m == {"updated": 1, "deleted": 0, "inserted": 1, "copied": 3}
    rows = {r["k"]: r for r in snapshot_read(spark, tdir).collect()}
    assert set(rows) == set(range(1, 9)) | {9}
    assert rows[2]["tag"] == "new" and rows[2]["val"] == 20.0
    assert rows[1]["tag"] == "old"
    # source missing a column: inserted rows null-fill it
    src2 = spark.createDataFrame([(10, 100.0)], "k long, val double")
    v2, m2 = snapshot_merge(spark, tdir, src2, key="k")
    got = snapshot_read(spark, tdir).where("k = 10").head()
    assert got["tag"] is None and got["val"] == 100.0
    # matched update from a narrow source keeps... (replace-all semantics
    # would null tag; use update_set to touch only val)
    src3 = spark.createDataFrame([(1, 111.0)], "k long, val double")
    v3, m3 = snapshot_merge(
        spark, tdir, src3, key="k", update_set={"val": "s.val"}
    )
    got1 = snapshot_read(spark, tdir).where("k = 1").head()
    assert got1["val"] == 111.0 and got1["tag"] == "old"


def test_upsert_and_default_merge_share_one_plan(spark, tmp_path):
    """snapshot_upsert is snapshot_merge with its default clauses: on the
    same batch against the same table both launch the same number of
    Spark jobs and commit the same rows."""
    from f1_data_pipeline_spark.storage import (
        snapshot_merge,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )

    batch = _keyed(spark, 950, 1050, tag="upd")  # half updates, half inserts
    runs = {}
    for name, write in (
        ("upsert", lambda t: snapshot_upsert(spark, t, batch, key="k")),
        ("merge", lambda t: snapshot_merge(spark, t, batch, key="k")),
    ):
        tdir = str(tmp_path / name)
        snapshot_write(
            _keyed(spark, 0, 1000).repartitionByRange(8, "k"), tdir,
            stats_cols=["k"],
        )
        _, jobs = _jobs(spark, lambda: write(tdir))
        rows = sorted(tuple(r) for r in snapshot_read(spark, tdir).collect())
        runs[name] = (jobs, rows)
    assert runs["upsert"][0] == runs["merge"][0]
    assert runs["upsert"][1] == runs["merge"][1]
    assert len(runs["upsert"][1]) == 1050


def test_snapshot_merge_conditions_and_delete_clauses(spark, tmp_path):
    """Conditional clauses: WHEN MATCHED AND cond THEN UPDATE/DELETE,
    WHEN NOT MATCHED AND cond THEN INSERT, WHEN NOT MATCHED BY SOURCE
    AND cond THEN DELETE (the full-sync clause)."""
    from f1_data_pipeline_spark.storage import snapshot_merge, snapshot_read

    tdir = _merge_table(spark, tmp_path)
    src = spark.createDataFrame(
        [(1, "s", 0.5), (2, "s", 99.0), (20, "s", 1.0), (21, "s", 99.0)],
        "k long, tag string, val double",
    )
    # update only when source val beats target; insert only big vals
    v, m = snapshot_merge(
        spark, tdir, src, key="k",
        matched_condition="s.val > t.val",
        update_set={"val": "s.val", "tag": "s.tag"},
        not_matched_condition="s.val > 50",
    )
    assert m["updated"] == 1 and m["inserted"] == 1
    rows = {r["k"]: r for r in snapshot_read(spark, tdir).collect()}
    assert rows[1]["val"] == 1.0 and rows[1]["tag"] == "old"  # cond false
    assert rows[2]["val"] == 99.0 and rows[2]["tag"] == "s"
    assert 20 not in rows and rows[21]["val"] == 99.0

    # matched delete + not-matched-by-source delete = exact mirror sync
    mirror = spark.createDataFrame(
        [(2, "m", 2.0), (21, "m", 21.0), (5, "m", 5.0)],
        "k long, tag string, val double",
    )
    v2, m2 = snapshot_merge(
        spark, tdir, mirror, key="k",
        when_matched="delete", matched_condition="t.val > 50",
        when_not_matched="insert",
        when_not_matched_by_source="delete",
        not_matched_by_source_condition="t.k > 6",
    )
    rows = {r["k"]: r for r in snapshot_read(spark, tdir).collect()}
    # matched with t.val > 50: 2 and 21 (both at val 99) deleted; 5 carried
    assert 2 not in rows and 21 not in rows and 5 in rows
    assert m2["deleted"] == 4  # 2, 21 (matched) + 7, 8 (by source)
    # not matched by source with t.k > 6: 7, 8 deleted; 1,3,4,6 carried
    assert 7 not in rows and 8 not in rows
    assert {1, 3, 4, 5, 6} == set(rows)


def test_snapshot_merge_cost_model_and_guards(spark, tmp_path):
    """Without the by-source clause only envelope-touched files rewrite
    (the upsert cost model); with it every file joins the rewrite. ANSI
    cardinality: duplicate or NULL source keys raise; extra source
    columns raise; a no-op merge commits nothing."""
    import pytest

    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_merge,
        snapshot_version,
    )

    tdir = _merge_table(spark, tmp_path)  # 2 range files: k 1-4, 5-8
    low = spark.createDataFrame([(1, "x", -1.0)], "k long, tag string, val double")
    v, m = snapshot_merge(spark, tdir, low, key="k")
    m2 = read_manifest(tdir, v)
    carried = [e for e in m2["files"] if e["path"].startswith("v=1/")]
    assert len(carried) == 1  # high file untouched, carried by reference

    full = spark.createDataFrame([(1, "y", -2.0)], "k long, tag string, val double")
    v3, _ = snapshot_merge(
        spark, tdir, full, key="k", when_not_matched_by_source="delete",
        not_matched_by_source_condition="t.k > 100",
    )
    m3 = read_manifest(tdir, v3)
    assert not [e for e in m3["files"] if not e["path"].startswith(f"v={v3}/")]

    with pytest.raises(ValueError, match="duplicate"):
        snapshot_merge(
            spark, tdir,
            spark.createDataFrame([(1, "a", 0.0), (1, "b", 0.0)],
                                  "k long, tag string, val double"),
            key="k",
        )
    with pytest.raises(ValueError, match="NULL"):
        snapshot_merge(
            spark, tdir,
            spark.createDataFrame([(None, "a", 0.0)],
                                  "k long, tag string, val double"),
            key="k",
        )
    with pytest.raises(ValueError, match="subset"):
        snapshot_merge(
            spark, tdir,
            spark.createDataFrame([(1, 1)], "k long, bogus int"),
            key="k",
        )
    # no-op: nothing matched, nothing inserted, nothing deleted
    cur = snapshot_version(spark, tdir)
    v4, m4 = snapshot_merge(
        spark, tdir,
        spark.createDataFrame([(50, "z", 0.0)], "k long, tag string, val double"),
        key="k", when_not_matched=None,
    )
    assert v4 == cur and m4["inserted"] == 0
    assert snapshot_version(spark, tdir) == cur


def test_snapshot_merge_respects_deletion_vectors(spark, tmp_path):
    """A DV'd row can neither match (its key merges as not-matched →
    insert) nor resurrect through the rewrite; rewritten files purge
    their DV entries, carried files keep theirs."""
    from f1_data_pipeline_spark.storage import (
        snapshot_delete,
        snapshot_merge,
        snapshot_read,
    )

    tdir = _merge_table(spark, tmp_path)
    snapshot_delete(spark, tdir, [("k", "=", 2)], mode="dv")
    src = spark.createDataFrame(
        [(2, "back", 2.5), (3, "upd", 3.5)], "k long, tag string, val double"
    )
    v, m = snapshot_merge(spark, tdir, src, key="k")
    assert m["updated"] == 1 and m["inserted"] == 1  # k=2 is NOT a match
    rows = {r["k"]: r for r in snapshot_read(spark, tdir).collect()}
    assert rows[2]["tag"] == "back" and rows[3]["tag"] == "upd"
    assert len(rows) == 8


def test_snapshot_clean_orphans(spark, tmp_path):
    """A crashed writer's claimed-but-uncommitted stage blocks the next
    claim for that version; snapshot_clean_orphans removes exactly those
    (dry_run reports them), never committed versions or their data."""
    import os

    from f1_data_pipeline_spark.storage import (
        SnapshotConflictError,
        snapshot_clean_orphans,
        snapshot_read,
        snapshot_version,
        snapshot_write,
    )

    tdir = str(tmp_path / "orph")
    df = spark.range(10).withColumnRenamed("id", "k")
    snapshot_write(df, tdir)
    # simulate a crash: stage v=2 (claim + data) without a commit record
    os.makedirs(f"{tdir}/v=2")
    open(f"{tdir}/v=2/_CLAIM", "w").close()
    open(f"{tdir}/v=2/part-crashed.parquet", "w").close()

    import pytest

    with pytest.raises(SnapshotConflictError, match="orphan"):
        snapshot_write(df, tdir)
    assert snapshot_clean_orphans(spark, tdir, dry_run=True) == [2]
    assert os.path.exists(f"{tdir}/v=2")  # dry run deletes nothing
    assert snapshot_clean_orphans(spark, tdir) == [2]
    assert not os.path.exists(f"{tdir}/v=2")
    # committed state untouched, and the blocked writer proceeds
    assert snapshot_version(spark, tdir) == 1
    assert snapshot_write(df, tdir) == 2
    assert snapshot_read(spark, tdir).count() == 10
    assert snapshot_clean_orphans(spark, tdir) == []


def test_snapshot_merge_schema_evolution(spark, tmp_path):
    """MERGE withSchemaEvolution: extra source columns widen the table
    additively — carried files read NULL, updated/inserted rows carry
    values, no carried file is rewritten; without the flag they raise."""
    import pytest

    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_merge,
        snapshot_read,
    )

    tdir = _merge_table(spark, tmp_path)  # k 1-8 in 2 range files
    src = spark.createDataFrame(
        [(1, "n", 1.5, "fr"), (9, "n", 9.0, "de")],
        "k long, tag string, val double, lang string",
    )
    with pytest.raises(ValueError, match="evolve_schema"):
        snapshot_merge(spark, tdir, src, key="k")
    v, m = snapshot_merge(spark, tdir, src, key="k", evolve_schema=True)
    assert m["updated"] == 1 and m["inserted"] == 1
    m2 = read_manifest(tdir, v)
    assert [e for e in m2["files"] if e["path"].startswith("v=1/")]  # carried
    rows = {r["k"]: r for r in snapshot_read(spark, tdir).collect()}
    assert rows[1]["lang"] == "fr" and rows[9]["lang"] == "de"
    assert rows[5]["lang"] is None  # carried file reads NULL
    # explicit SET on an evolved column keeps others target-valued
    src2 = spark.createDataFrame([(2, "pt")], "k long, lang string")
    snapshot_merge(spark, tdir, src2, key="k", update_set={"lang": "s.lang"})
    got = snapshot_read(spark, tdir).where("k = 2").head()
    assert got["lang"] == "pt" and got["tag"] == "old"


def test_snapshot_merge_cas_and_change_feed_composition(spark, tmp_path):
    """MERGE composes with the rest of the lakehouse: expected_version
    applies the usual CAS (a stale derivation raises typed, commits
    nothing), and a merge commit flows through the change feed — an
    exactly-once replica sync converges to the merged state without
    special-casing the commit type."""
    import pytest

    from f1_data_pipeline_spark.analytics import sync_replica_from_changes
    from f1_data_pipeline_spark.storage import (
        SnapshotConflictError,
        snapshot_changes,
        snapshot_merge,
        snapshot_read,
        snapshot_version,
    )

    tdir = _merge_table(spark, tmp_path)  # k 1-8
    rep = str(tmp_path / "rep")
    sync_replica_from_changes(spark, tdir, "k", rep, cluster_files=1)

    src = spark.createDataFrame(
        [(2, "m", 22.0), (9, "m", 99.0)], "k long, tag string, val double"
    )
    with pytest.raises(SnapshotConflictError):
        snapshot_merge(spark, tdir, src, key="k", expected_version=99)
    assert snapshot_version(spark, tdir) == 1

    v, _ = snapshot_merge(
        spark, tdir, src, key="k",
        when_not_matched_by_source="delete",
        not_matched_by_source_condition="t.k = 8",
        expected_version=1,
    )
    feed = snapshot_changes(spark, tdir, "k", 1, v)
    by_type = {
        r["k"]: r["_change_type"]
        for r in feed.where("_change_type != 'update_preimage'").collect()
    }
    assert by_type[9] == "insert" and by_type[8] == "delete"
    assert by_type[2] == "update_postimage"

    sync_replica_from_changes(spark, tdir, "k", rep)
    assert sorted(
        (r["k"], r["tag"]) for r in snapshot_read(spark, rep).collect()
    ) == sorted((r["k"], r["tag"]) for r in snapshot_read(spark, tdir).collect())


def test_snapshot_merge_by_source_triple_condition_prunes(spark, tmp_path):
    """The by-source clause with a WHERE-TRIPLE condition prunes at the
    manifest level: files whose envelope proves no stale row are carried
    (not rewritten) while results stay exactly the full-pass answer."""
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    tdir = str(tmp_path / "nbs")
    df = spark.createDataFrame(
        [(k, float(k)) for k in range(40)], "k long, ts double"
    ).repartitionByRange(4, "k")  # 4 range files over ts too (ts == k)
    snapshot_write(df, tdir, stats_cols=["k", "ts"])

    # source keeps keys 0,1 fresh; stale = ts < 10 and not in source
    src = spark.createDataFrame([(0, 100.0), (1, 101.0)], "k long, ts double")
    v, m = snapshot_merge(
        spark, tdir, src, key="k",
        when_not_matched_by_source="delete",
        not_matched_by_source_condition=[("ts", "<", 10.0)],
    )
    mf = read_manifest(tdir, v)
    carried = [e for e in mf["files"] if e["path"].startswith("v=1/")]
    # only the low file (ts 0-9, holding both the matches and the stale
    # rows) rewrites; the three high files are envelope-carried
    assert len(carried) == 3
    rows = {r["k"]: r["ts"] for r in snapshot_read(spark, tdir).collect()}
    assert rows[0] == 100.0 and rows[1] == 101.0
    assert set(rows) == {0, 1} | set(range(10, 40))
    assert m["deleted"] == 8  # 2..9 stale, 0 and 1 freshened


# ---------------------------------------------------------------------------
# composite keys
# ---------------------------------------------------------------------------


def test_composite_key_upsert_cdc_and_merge(spark, tmp_path):
    """key=[...] drives the whole merge family: the touched-file
    envelope intersects EVERY key column's [min,max] (a batch touching
    one (driver, lap) band carries the rest), tuple uniqueness/non-null
    raise, tombstones delete by tuple, and MERGE joins on the composite
    equality."""
    import pytest

    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_apply_cdc,
        snapshot_merge,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )

    tdir = str(tmp_path / "comp")
    # 4 files clustered on (driver, lap): drivers 0-3, laps 0-9
    df = spark.createDataFrame(
        [(d, l, float(d * 10 + l)) for d in range(4) for l in range(10)],
        "driver long, lap long, t double",
    ).repartitionByRange(4, "driver", "lap")
    snapshot_write(df, tdir, stats_cols=["driver", "lap"])

    ups = spark.createDataFrame([(1, 3, 99.0)], "driver long, lap long, t double")
    v = snapshot_upsert(spark, tdir, ups, key=["driver", "lap"], cluster_files=1)
    m = read_manifest(tdir, v)
    assert len([e for e in m["files"] if e["path"].startswith("v=1/")]) == 3
    rows = {(r["driver"], r["lap"]): r["t"] for r in snapshot_read(spark, tdir).collect()}
    assert rows[(1, 3)] == 99.0 and rows[(1, 4)] == 14.0 and len(rows) == 40

    # tuple-duplicate and NULL-component batches raise
    with pytest.raises(ValueError, match="duplicate"):
        snapshot_upsert(
            spark, tdir,
            spark.createDataFrame(
                [(1, 3, 1.0), (1, 3, 2.0)], "driver long, lap long, t double"
            ),
            key=["driver", "lap"],
        )
    with pytest.raises(ValueError, match="NULL"):
        snapshot_upsert(
            spark, tdir,
            spark.createDataFrame([(1, None, 1.0)], "driver long, lap long, t double"),
            key=["driver", "lap"],
        )

    # CDC tombstone deletes by tuple
    snapshot_apply_cdc(
        spark, tdir,
        spark.createDataFrame(
            [(2, 5, None, "D"), (0, 0, 0.5, "U")],
            "driver long, lap long, t double, op string",
        ),
        key=["driver", "lap"], cluster_files=1,
    )
    rows = {(r["driver"], r["lap"]): r["t"] for r in snapshot_read(spark, tdir).collect()}
    assert (2, 5) not in rows and rows[(0, 0)] == 0.5 and len(rows) == 39

    # composite MERGE: conditional update + insert + by-source delete
    src = spark.createDataFrame(
        [(1, 3, 0.0), (3, 99, 42.0)], "driver long, lap long, t double"
    )
    v2, mm = snapshot_merge(
        spark, tdir, src, key=["driver", "lap"],
        matched_condition="s.t < t.t", update_set={"t": "s.t"},
        when_not_matched_by_source="delete",
        not_matched_by_source_condition=[("driver", "=", 0), ("lap", ">=", 8)],
    )
    rows = {(r["driver"], r["lap"]): r["t"] for r in snapshot_read(spark, tdir).collect()}
    assert rows[(1, 3)] == 0.0 and rows[(3, 99)] == 42.0
    assert (0, 8) not in rows and (0, 9) not in rows
    assert mm["updated"] == 1 and mm["inserted"] == 1 and mm["deleted"] == 2


def test_snapshot_append_carries_files_untouched(spark, tmp_path):
    """Append-only commits: prior files ride by reference (zero rewrite),
    stats/blooms build for the new files only, the deletion vector
    carries verbatim, and every commit is op-labelled."""
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        snapshot_append,
        snapshot_delete,
        snapshot_history,
        snapshot_read,
    )

    tdir = str(tmp_path / "tbl")
    b = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    # first append CREATES the table (one atomic v1 commit)
    assert snapshot_append(b(0, 100), tdir, stats_cols=["k"]) == 1
    assert snapshot_append(b(100, 150), tdir) == 2
    m2 = read_manifest(tdir, 2)
    assert m2["op"] == "append"
    v1_files = {e["path"] for e in read_manifest(tdir, 1)["files"]}
    # every v1 file carried BY REFERENCE — the O(new rows) commit claim
    assert v1_files <= {e["path"] for e in m2["files"]}
    # stats inherited for the new files without re-passing stats_cols
    staged = [e for e in m2["files"] if e["path"].startswith("v=2/")]
    assert staged and all("k" in (e.get("stats") or {}) for e in staged)
    assert snapshot_read(spark, tdir).count() == 150

    # DV carried verbatim: tombstoned rows stay dead through an append
    snapshot_delete(spark, tdir, [("k", "<", 10)], mode="dv")
    snapshot_append(b(200, 210), tdir)
    out = snapshot_read(spark, tdir)
    assert out.count() == 150
    assert out.agg(F.min("k")).head()[0] == 10

    ops = [h.get("op") for h in snapshot_history(spark, tdir)]
    assert ops == ["append", "append", "delete", "append"]

    # cluster_by: the batch's files get TIGHT disjoint key envelopes
    # (an unclustered append gives every file a full-range envelope that
    # later upserts/reads could never prune)
    v = snapshot_append(
        b(1000, 1200), tdir, cluster_by=["k"], cluster_files=4
    )
    m = read_manifest(tdir, v)
    own = [e for e in m["files"] if e["path"].startswith(f"v={v}/")]
    spans = sorted(
        (e["stats"]["k"]["min"], e["stats"]["k"]["max"]) for e in own
    )
    assert len(spans) == 4
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2  # disjoint ranges: range clustering worked


def test_snapshot_append_schema_evolution_and_cas(spark, tmp_path):
    from f1_data_pipeline_spark.storage import (
        snapshot_append,
        snapshot_read,
        snapshot_version,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_append(
        spark.createDataFrame([(1, "a")], "k long, s string"), tdir
    )
    # column mismatch refuses without evolve_schema
    with pytest.raises(ValueError, match="evolve_schema"):
        snapshot_append(spark.createDataFrame([(2,)], "k long"), tdir)
    # evolution: widen with a new column; omitted column null-fills
    snapshot_append(
        spark.createDataFrame([(2, 1.5)], "k long, w double"),
        tdir,
        evolve_schema=True,
    )
    rows = {r["k"]: (r["s"], r["w"]) for r in snapshot_read(spark, tdir).collect()}
    assert rows == {1: ("a", None), 2: (None, 1.5)}
    v = snapshot_version(spark, tdir)

    # CAS: a stale expected_version refuses
    from f1_data_pipeline_spark.storage import SnapshotConflictError

    with pytest.raises(SnapshotConflictError):
        snapshot_append(
            spark.createDataFrame([(9, None, None)], "k long, s string, w double"),
            tdir,
            expected_version=1,
        )
    with pytest.raises(ValueError, match="mutually"):
        snapshot_append(
            spark.createDataFrame([(9, None, None)], "k long, s string, w double"),
            tdir,
            expected_version=v,
            retries=2,
        )


def test_snapshot_append_first_commit_race_not_lost(spark, tmp_path, monkeypatch):
    """A writer that fully commits v1 between snapshot_append's version
    read and its first-commit write must NOT be erased by the append
    landing as a v2 full replace: the first-commit path pins
    expected_version=0, so the race surfaces as a retryable
    SnapshotConflictError and the retry falls through to the APPEND path
    (carrying the concurrent writer's rows)."""
    import f1_data_pipeline_spark.storage as st
    from f1_data_pipeline_spark import snaplog

    tdir = str(tmp_path / "tbl")
    concurrent = spark.createDataFrame([(1, "concurrent")], "k long, s string")
    mine = spark.createDataFrame([(2, "mine")], "k long, s string")
    # the concurrent writer lands v1 first; the append's INITIAL version
    # read is then faked stale (0) — exactly the lost-race interleaving
    st.snapshot_write(concurrent, tdir, stats_cols=["k"])
    real = st.snapshot_version
    calls = {"n": 0}

    def stale_once(sp, td):
        calls["n"] += 1
        return 0 if calls["n"] == 1 else real(sp, td)

    monkeypatch.setattr(st, "snapshot_version", stale_once)
    # without retries: a typed conflict, and NOTHING was overwritten
    with pytest.raises(st.SnapshotConflictError):
        st.snapshot_append(mine, tdir)
    monkeypatch.setattr(st, "snapshot_version", real)
    assert st.snapshot_version(spark, tdir) == 1
    assert {r["s"] for r in st.snapshot_read(spark, tdir).collect()} == {"concurrent"}

    # with retries: the loser re-reads and APPENDS onto the winner's v1
    calls["n"] = 0
    monkeypatch.setattr(st, "snapshot_version", stale_once)
    v = st.snapshot_append(mine, tdir, retries=2)
    monkeypatch.setattr(st, "snapshot_version", real)
    assert v == 2
    m2 = snaplog.read_manifest(tdir, 2)
    assert m2["op"] == "append"
    assert {r["s"] for r in st.snapshot_read(spark, tdir).collect()} == {
        "concurrent",
        "mine",
    }


def test_manifest_log_checkpoint(spark, tmp_path, monkeypatch):
    """Manifest-log checkpointing (the Delta `_last_checkpoint` shape):
    version / history / as-of resolution must stay EXACT across
    checkpoints, resolve without reading every manifest (counted), and
    survive a torn pointer by falling back to the full scan."""
    import os

    import f1_data_pipeline_spark.storage as st
    from f1_data_pipeline_spark import snaplog

    monkeypatch.setattr(snaplog, "SNAPSHOT_CHECKPOINT_INTERVAL", 5)
    tdir = str(tmp_path / "tbl")
    b = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    for i in range(12):
        st.snapshot_append(b(i * 10, i * 10 + 10), tdir)
    assert os.path.exists(f"{tdir}/_manifests/5.ckpt.json")
    assert os.path.exists(f"{tdir}/_manifests/10.ckpt.json")
    assert os.path.exists(f"{tdir}/_manifests/_last_checkpoint")
    assert st.snapshot_version(spark, tdir) == 12

    # history through the checkpoint == history from a full manifest scan
    # (disable BOTH fast paths: the full-log read history uses and the
    # pointer-only read version resolution uses)
    hist = st.snapshot_history(spark, tdir)
    real_rc, real_cv = snaplog.read_checkpoint, snaplog.checkpoint_version
    monkeypatch.setattr(snaplog, "read_checkpoint", lambda *a: None)
    monkeypatch.setattr(snaplog, "checkpoint_version", lambda *a: None)
    hist_full = st.snapshot_history(spark, tdir)
    assert st.snapshot_version(spark, tdir) == 12  # listing fallback
    monkeypatch.setattr(snaplog, "read_checkpoint", real_rc)
    monkeypatch.setattr(snaplog, "checkpoint_version", real_cv)
    assert hist == hist_full and len(hist) == 12

    # resolution reads only the post-checkpoint TAIL (counted JSON reads)
    reads = []
    real_rm = snaplog.read_manifest

    def counting(td, v):
        reads.append(v)
        return real_rm(td, v)

    monkeypatch.setattr(snaplog, "read_manifest", counting)
    st.snapshot_history(spark, tdir)
    assert set(reads) == {11, 12}, f"checkpointed prefix was re-read: {reads}"
    # as-of inside the checkpointed prefix: ZERO manifest reads
    ts3, ts4 = hist[2]["ts"], hist[3]["ts"]
    reads.clear()
    assert st.snapshot_version_asof(spark, tdir, (ts3 + ts4) / 2) == 3
    assert reads == []
    # as-of in the tail: reads only the tail
    reads.clear()
    assert st.snapshot_version_asof(spark, tdir, hist[-1]["ts"] + 1) == 12
    assert set(reads) <= {11, 12}
    monkeypatch.setattr(snaplog, "read_manifest", real_rm)

    # torn pointer: every read falls back to the full scan, still exact
    with open(f"{tdir}/_manifests/_last_checkpoint", "w") as f:
        f.write("{torn")
    assert st.snapshot_version(spark, tdir) == 12
    assert st.snapshot_history(spark, tdir) == hist_full

    # an explicit checkpoint repairs the pointer at the CURRENT version
    snaplog.write_checkpoint(tdir, st.snapshot_version(spark, tdir))
    ck = snaplog.read_checkpoint(tdir)
    assert ck is not None and ck["version"] == 12 and len(ck["log"]) == 12
    assert [r["version"] for r in ck["log"]] == list(range(1, 13))
    assert all(r["op"] == "append" for r in ck["log"])

    # the feedsource's latest-version probe rides the same pointer
    assert snaplog.latest_version(tdir) == 12
    st.snapshot_append(b(200, 205), tdir)
    assert snaplog.latest_version(tdir) == 13  # forward probe past the pointer


def test_concurrent_appends_no_lost_updates(spark, tmp_path):
    """OCC under real thread contention: racing snapshot_append(retries=)
    writers — including the TABLE-CREATION race the r11 fix closed —
    land every batch exactly once; versions stay contiguous and
    op-labelled."""
    import threading

    from f1_data_pipeline_spark.storage import (
        snapshot_append,
        snapshot_history,
        snapshot_read,
    )

    tdir = str(tmp_path / "tbl")
    errs: list = []

    def worker(wid: int):
        try:
            for j in range(2):
                lo = wid * 1000 + j * 100
                df = spark.createDataFrame(
                    [(lo + i, float(wid)) for i in range(10)], "k long, v double"
                )
                snapshot_append(df, tdir, retries=60)
        except Exception as e:  # pragma: no cover - surfaced by assert
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    rows = snapshot_read(spark, tdir).collect()
    assert len(rows) == 4 * 2 * 10
    assert len({r["k"] for r in rows}) == 80  # nothing lost, nothing doubled
    hist = snapshot_history(spark, tdir)
    assert [h["version"] for h in hist] == list(range(1, 9))
    assert all(h["op"] == "append" for h in hist)


def test_corrupt_checkpoint_pointer_falls_back(spark, tmp_path):
    """A structurally-valid checkpoint whose version was never committed
    (pointer corruption) must not fabricate a phantom head — both the
    storage and the feedsource head resolution fall back to the listing."""
    import json as _json

    import f1_data_pipeline_spark.storage as st
    from f1_data_pipeline_spark.snaplog import latest_version

    tdir = str(tmp_path / "tbl")
    for i in range(3):
        st.snapshot_append(
            spark.createDataFrame([(i, 1.0)], "k long, v double"), tdir
        )
    with open(f"{tdir}/_manifests/99.ckpt.json", "w") as f:
        f.write(_json.dumps({"version": 99, "log": []}))
    with open(f"{tdir}/_manifests/_last_checkpoint", "w") as f:
        f.write(_json.dumps({"version": 99, "path": "99.ckpt.json"}))
    assert st.snapshot_version(spark, tdir) == 3
    assert latest_version(tdir) == 3
    # as-of/history must not trust the phantom log either
    hist = st.snapshot_history(spark, tdir)
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert st.snapshot_version_asof(spark, tdir, hist[-1]["ts"] + 1) == 3
    # and expiry must not delete history a phantom log can't carry: it
    # rebuilds a GENUINE checkpoint at the current version first
    assert st.snapshot_expire_log(spark, tdir, keep_last=1) == [1, 2]
    assert [h["version"] for h in st.snapshot_history(spark, tdir)] == [1, 2, 3]
    assert st.snapshot_version(spark, tdir) == 3
    assert st.snapshot_read(spark, tdir).count() == 3


def test_vacuum_reclaims_writer_staging(spark, tmp_path):
    """Crashed/aborted DataSource-writer stages under `_staging/` are
    never manifest-referenced (commits MOVE files out first) — vacuum
    reclaims them under its single-operator assumption; dry_run leaves
    them."""
    import os

    from f1_data_pipeline_spark.storage import snapshot_read, snapshot_vacuum, snapshot_write

    tdir = str(tmp_path / "tbl")
    snapshot_write(spark.range(10).withColumnRenamed("id", "k"), tdir)
    crashed = f"{tdir}/_staging/dsw-deadbeef"
    os.makedirs(crashed)
    with open(f"{crashed}/part-orphan.parquet", "wb") as f:
        f.write(b"not really parquet")
    snapshot_vacuum(spark, tdir, dry_run=True)
    assert os.path.exists(f"{crashed}/part-orphan.parquet")
    snapshot_vacuum(spark, tdir)
    assert not os.path.exists(f"{tdir}/_staging")
    assert snapshot_read(spark, tdir).count() == 10


def test_snapshot_expire_log(spark, tmp_path, monkeypatch):
    """Log retention: expired manifest records disappear, but version
    resolution, FULL history and as-of keep working through the forced
    checkpoint; time travel past the horizon raises; data files and the
    current read are untouched."""
    import os

    import f1_data_pipeline_spark.storage as st
    from f1_data_pipeline_spark import snaplog

    # large interval: no auto-checkpoint — expiry must force its own
    monkeypatch.setattr(snaplog, "SNAPSHOT_CHECKPOINT_INTERVAL", 1000)
    tdir = str(tmp_path / "tbl")
    b = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    for i in range(15):
        st.snapshot_append(b(i * 10, i * 10 + 10), tdir)
    hist_before = st.snapshot_history(spark, tdir)

    assert st.snapshot_expire_log(spark, tdir, keep_last=5, dry_run=True) == list(
        range(1, 11)
    )
    assert os.path.exists(f"{tdir}/_manifests/1.json")  # dry run deletes nothing

    assert st.snapshot_expire_log(spark, tdir, keep_last=5) == list(range(1, 11))
    kept = sorted(
        n for n in os.listdir(f"{tdir}/_manifests")
        if n.endswith(".json") and n[:-5].isdigit()
    )
    assert sorted(int(n[:-5]) for n in kept) == list(range(11, 16))

    assert st.snapshot_version(spark, tdir) == 15
    # FULL history survives via the compacted log — including expired recs
    assert st.snapshot_history(spark, tdir) == hist_before
    # as-of into the expired range still resolves from the log
    ts3, ts4 = hist_before[2]["ts"], hist_before[3]["ts"]
    if ts4 > ts3:
        assert st.snapshot_version_asof(spark, tdir, (ts3 + ts4) / 2) == 3
    # current read untouched; kept-version time travel works
    assert st.snapshot_read(spark, tdir).count() == 150
    assert st.snapshot_read(spark, tdir, version=12).count() == 120
    with pytest.raises(FileNotFoundError):
        st.snapshot_read(spark, tdir, version=5)
    # maintenance still composes: vacuum plans from the kept manifests
    st.snapshot_vacuum(spark, tdir, keep_last=2, dry_run=True)
    from f1_data_pipeline_spark.snaplog import latest_version

    assert latest_version(tdir) == 15
    # idempotent: nothing left below the cut
    assert st.snapshot_expire_log(spark, tdir, keep_last=5) == []


def test_history_check_available_serves_expired_versions(
    spark, tmp_path, monkeypatch
):
    """check_available=True must return the SAME version set as the
    default path: versions expired by snapshot_expire_log are served from
    the compacted log with available=False instead of silently dropped."""
    import f1_data_pipeline_spark.storage as st
    from f1_data_pipeline_spark import snaplog

    monkeypatch.setattr(snaplog, "SNAPSHOT_CHECKPOINT_INTERVAL", 1000)
    tdir = str(tmp_path / "tbl")
    for i in range(15):
        st.snapshot_append(
            spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("k")), tdir
        )
    st.snapshot_expire_log(spark, tdir, keep_last=5)  # retires v1..v10

    base = st.snapshot_history(spark, tdir)
    avail = st.snapshot_history(spark, tdir, check_available=True)
    assert [r["version"] for r in avail] == [r["version"] for r in base] == list(
        range(1, 16)
    )
    flags = {r["version"]: r["available"] for r in avail}
    assert all(flags[v] is False for v in range(1, 11))  # expired: log-served
    assert all(flags[v] is True for v in range(11, 16))  # live: probed
    # the summaries themselves match the default path byte-for-byte
    assert [
        {k: v for k, v in r.items() if k != "available"} for r in avail
    ] == base


def test_snapshot_stats_agg_metadata_only(spark, tmp_path):
    """COUNT/MIN/MAX/nulls from the manifest: zero data files opened on a
    clean table; deletion-vector debt recomputes ONLY the dirty files."""
    from f1_data_pipeline_spark.storage import (
        snapshot_append,
        snapshot_delete,
        snapshot_stats_agg,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") * 1.5).alias("v"),
        F.to_timestamp(
            F.lit("2024-01-01 00:00:00")
        ).alias("base_ts"),
    ).withColumn("ts", F.col("base_ts") + F.make_interval(secs=F.col("k"))).drop("base_ts")
    snapshot_write(
        df.repartitionByRange(4, "k"), tdir, stats_cols=["k", "v", "ts"]
    )
    out = snapshot_stats_agg(spark, tdir, ["k", "v", "ts"])
    # pure metadata: the result plan reads NO data file
    assert out.inputFiles() == []
    r = out.head()
    assert r["n_rows"] == 1000
    assert r["min_k"] == 0 and r["max_k"] == 999 and r["nulls_k"] == 0
    assert r["nulls_v"] == 100 and r["min_v"] == 1.5
    assert str(r["min_ts"]) == "2024-01-01 00:00:00"
    assert str(r["max_ts"]) == "2024-01-01 00:16:39"
    # typed output: the column's own type, not strings
    assert dict(out.dtypes)["min_ts"] == "timestamp"

    # DV debt: counts stay metadata-exact; min/max recompute dirty files
    snapshot_delete(spark, tdir, [("k", "<", 5)], mode="dv")
    snapshot_delete(spark, tdir, [("k", ">=", 990)], mode="dv")
    # pin the scan bound PHYSICALLY: remove the clean files from disk —
    # the aggregate must still succeed because it opens ONLY DV'd files
    import os

    from f1_data_pipeline_spark.snaplog import read_manifest
    m = read_manifest(tdir, 3)
    dirty_keys = set((m.get("dv") or {}).get("files", {}))
    clean = [e["path"] for e in m["files"] if e["path"] not in dirty_keys]
    assert clean  # the band deletes must not have touched every file
    for p in clean:
        os.rename(f"{tdir}/{p}", f"{tdir}/{p}.hidden")
    try:
        out = snapshot_stats_agg(spark, tdir, ["k", "v"])
        r = out.head()
    finally:
        for p in clean:
            os.rename(f"{tdir}/{p}.hidden", f"{tdir}/{p}")
    assert r["n_rows"] == 985
    assert r["min_k"] == 5 and r["max_k"] == 989
    assert r["nulls_v"] == 100 - 1 - 1  # k=0 and k=990 were null v rows

    # appended files with NO stats for a column: scanned, still exact
    snapshot_append(
        spark.range(2000, 2010).select(
            F.col("id").alias("k"),
            F.lit(None).cast("double").alias("v"),
            F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("ts"),
        ),
        tdir,
        stats_cols=[],
    )
    r = snapshot_stats_agg(spark, tdir, ["k"]).head()
    assert r["n_rows"] == 995 and r["max_k"] == 2009
    with pytest.raises(ValueError, match="not in the table schema"):
        snapshot_stats_agg(spark, tdir, ["nope"])


def test_snapshot_model_fuzz(spark, tmp_path):
    """Model-based check of the WHOLE write surface: a seeded random
    interleaving of appends, upserts, CDC batches, DV and copy-on-write
    deletes, merges, optimize/compact/restamp maintenance, and restores
    — after every commit the table must equal a plain Python dict model,
    and at the end every committed version must time-travel back to
    exactly the model state that produced it. This is the invariant no
    single-path test can pin: the write paths COMPOSE (DV entries carried
    through appends, purged by rewrites; stats/blooms re-derived; txn
    properties riding along) without ever disagreeing about the rows."""
    import random

    from f1_data_pipeline_spark.storage import (
        snapshot_append,
        snapshot_apply_cdc,
        snapshot_delete,
        snapshot_merge,
        snapshot_optimize,
        snapshot_read,
        snapshot_restamp,
        snapshot_restore,
        snapshot_stats_agg,
        snapshot_upsert,
        snapshot_version,
        snapshot_write,
    )

    rng = random.Random(7)
    tdir = str(tmp_path / "tbl")

    def df_of(rows):
        return spark.createDataFrame(
            [(k, float(v)) for k, v in rows], "k long, v double"
        )

    model: dict[int, float] = {k: float(k) for k in range(60)}
    snapshot_write(
        df_of(model.items()).repartitionByRange(3, "k"), tdir, stats_cols=["k"]
    )
    by_version: dict[int, dict[int, float]] = {1: dict(model)}

    def check():
        got = {r["k"]: r["v"] for r in snapshot_read(spark, tdir).collect()}
        assert got == model, (
            f"table diverged from model: extra={set(got) - set(model)} "
            f"missing={set(model) - set(got)} "
            f"changed={ {k for k in got.keys() & model.keys() if got[k] != model[k]} }"
        )
        by_version[snapshot_version(spark, tdir)] = dict(model)

    next_key = 1000
    for step in range(16):
        op = rng.choice(
            ["append", "upsert", "cdc", "dv", "cow", "merge",
             "optimize", "compact", "restamp", "restore"]
        )
        if op == "append":
            rows = [(next_key + i, next_key + i) for i in range(rng.randint(1, 8))]
            next_key += 10
            snapshot_append(df_of(rows), tdir, cluster_by=["k"], cluster_files=2)
            model.update({k: float(v) for k, v in rows})
        elif op == "upsert":
            ks = rng.sample(sorted(model), min(5, len(model)))
            rows = [(k, -k - step) for k in ks] + [(next_key, next_key)]
            next_key += 10
            snapshot_upsert(spark, tdir, df_of(rows), key="k", cluster_files=2)
            model.update({k: float(v) for k, v in rows})
        elif op == "cdc":
            ks = rng.sample(sorted(model), min(3, len(model)))
            batch = df_of([(k, 7000 + k) for k in ks]).withColumn(
                "op", F.lit("U")
            )
            dead = rng.sample(sorted(model), min(2, len(model)))
            dead = [k for k in dead if k not in ks]
            batch = batch.unionByName(
                df_of([(k, 0) for k in dead]).withColumn("op", F.lit("D"))
            )
            snapshot_apply_cdc(spark, tdir, batch, key="k", cluster_files=2)
            model.update({k: float(7000 + k) for k in ks})
            for k in dead:
                model.pop(k, None)
        elif op in ("dv", "cow"):
            lo = rng.choice(sorted(model))
            hi = lo + rng.randint(0, 30)
            snapshot_delete(
                spark, tdir, [("k", ">=", lo), ("k", "<=", hi)], mode=op
            )
            for k in [k for k in model if lo <= k <= hi]:
                del model[k]
            if not model:  # keep the table non-empty for later samplers
                rows = [(next_key, next_key)]
                next_key += 10
                snapshot_append(df_of(rows), tdir)
                model.update({k: float(v) for k, v in rows})
        elif op == "merge":
            ks = rng.sample(sorted(model), min(4, len(model)))
            src = df_of([(k, 9000 + k) for k in ks] + [(next_key, next_key)])
            next_key += 10
            snapshot_merge(
                spark, tdir, src, key="k",
                matched_condition="s.v > t.v", cluster_files=2,
            )
            for k in ks:
                if 9000 + k > model[k]:
                    model[k] = float(9000 + k)
            model[next_key - 10] = float(next_key - 10)
        elif op == "optimize":
            snapshot_optimize(spark, tdir, target_file_bytes=1 << 20, dv_fraction=0.5)
        elif op == "compact":
            # a full rewrite: every file, deletion-vector debt or not
            snapshot_optimize(
                spark, tdir, target_file_bytes=1 << 20,
                small_file_bytes=1 << 30, dv_fraction=0.0,
            )
        elif op == "restamp":
            snapshot_restamp(spark, tdir, {"step": step})
        elif op == "restore":
            vs = sorted(by_version)
            target = rng.choice(vs)
            snapshot_restore(spark, tdir, target)
            model = dict(by_version[target])
        check()
        # the metadata-only count must agree at every step, DV debt or not
        assert (
            snapshot_stats_agg(spark, tdir).head()["n_rows"] == len(model)
        ), f"metadata count diverged at step {step} ({op})"

    # every committed content version time-travels back to ITS model
    for v, want in by_version.items():
        got = {
            r["k"]: r["v"]
            for r in snapshot_read(spark, tdir, version=v).collect()
        }
        assert got == want, f"time travel to v{v} diverged"


def test_merge_preserves_null_key_target_rows(spark, tmp_path):
    """A target row whose key is NULL never equi-matches, but it is a
    TARGET row: the classifier must treat it as not-matched-by-source
    (carry/conditional-delete), never as a source-only insert — key
    nullability is not side identity."""
    from f1_data_pipeline_spark.storage import (
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (None, 99.0)], "k long, v double"
        ),
        tdir,
        stats_cols=["k"],
    )
    v, m = snapshot_merge(
        spark,
        tdir,
        spark.createDataFrame([(2, 21.0), (3, 30.0)], "k long, v double"),
        key="k",
        # full-sync clause forces every file (incl. the NULL-key row's)
        # into the rewrite — the misclassification trigger
        when_not_matched_by_source="delete",
        not_matched_by_source_condition="t.k > 100",
    )
    rows = {r["k"]: r["v"] for r in snapshot_read(spark, tdir).collect()}
    assert rows == {1: 10.0, 2: 21.0, 3: 30.0, None: 99.0}
    assert m["deleted"] == 0 and m["inserted"] == 1 and m["updated"] == 1

    # and the conditional delete CAN reach it when the predicate says so
    snapshot_merge(
        spark,
        tdir,
        spark.createDataFrame([(1, 10.0)], "k long, v double"),
        key="k",
        when_matched=None,
        when_not_matched=None,
        when_not_matched_by_source="delete",
        not_matched_by_source_condition="t.k IS NULL",
    )
    rows = {r["k"]: r["v"] for r in snapshot_read(spark, tdir).collect()}
    assert None not in rows and set(rows) == {1, 2, 3}


def test_read_modify_write_detects_interleaved_commit(spark, tmp_path, monkeypatch):
    """Lost-update gate: a commit derived from version N must stage as
    N+1 — a concurrent commit landing between the manifest read and the
    staging claim makes the carried file list stale, and committing it
    would silently erase the concurrent writer's files. Every
    read-modify-write path must raise a retryable conflict instead."""
    from f1_data_pipeline_spark import storage as stg
    from f1_data_pipeline_spark.storage import (
        SnapshotConflictError,
        snapshot_append,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(
        spark.range(0, 20).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ),
        tdir,
        stats_cols=["k"],
    )

    real_stage = stg._stage_version
    state = {"armed": True}

    def racing_stage(df, table_dir):
        if state["armed"]:
            state["armed"] = False
            # a concurrent writer slips in a commit first
            snapshot_append(
                spark.createDataFrame([(500, 500.0)], "k long, v double"),
                table_dir,
            )
        return real_stage(df, table_dir)

    monkeypatch.setattr(stg, "_stage_version", racing_stage)
    with pytest.raises(SnapshotConflictError, match="derived from"):
        snapshot_upsert(
            spark,
            tdir,
            spark.createDataFrame([(1, -1.0)], "k long, v double"),
            key="k",
        )
    monkeypatch.setattr(stg, "_stage_version", real_stage)
    # the interleaved append survived untouched; the upsert can re-run
    assert snapshot_read(spark, tdir).count() == 21
    snapshot_upsert(
        spark,
        tdir,
        spark.createDataFrame([(1, -1.0)], "k long, v double"),
        key="k",
    )
    rows = {r["k"]: r["v"] for r in snapshot_read(spark, tdir).collect()}
    assert rows[1] == -1.0 and rows[500] == 500.0


def test_append_rejects_type_drift(spark, tmp_path):
    from f1_data_pipeline_spark.storage import snapshot_append, snapshot_read

    tdir = str(tmp_path / "tbl")
    snapshot_append(
        spark.createDataFrame([(1, 1.5)], "k long, v double"), tdir
    )
    with pytest.raises(ValueError, match="types diverge"):
        snapshot_append(
            spark.createDataFrame([(2, "oops")], "k long, v string"), tdir
        )
    # the table is still readable (nothing poisoned it)
    assert snapshot_read(spark, tdir).count() == 1


def test_restamp_carries_txn_stamps(spark, tmp_path):
    """A restamp replaces properties wholesale EXCEPT streaming writers'
    txn idempotence stamps — erasing those would re-append a crash-
    replayed micro-batch after any zero-net replica sync."""
    from f1_data_pipeline_spark.storage import (
        snapshot_append,
        snapshot_properties,
        snapshot_restamp,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_append(
        spark.createDataFrame([(1, 1.0)], "k long, v double"),
        tdir,
        properties={"txn": {"ingest": 4}},
    )
    snapshot_restamp(spark, tdir, {"source_version": 9})
    props = snapshot_properties(spark, tdir)
    assert props["source_version"] == 9
    assert props["txn"] == {"ingest": 4}


def test_snapshot_count_opens_only_boundary_files(spark, tmp_path):
    """Predicate-pushed metadata count: files whose envelope proves
    all-rows-match are counted from the manifest — pinned physically by
    REMOVING them from disk and counting anyway; only the window's
    boundary files (and DV-dirty ones) are opened."""
    import os

    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        _entry_all_match,
        _entry_prunable,
        snapshot_count,
        snapshot_delete,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    snapshot_write(df.repartitionByRange(5, "k"), tdir, stats_cols=["k"])
    where = [("k", ">=", 150), ("k", "<=", 750)]
    assert snapshot_count(spark, tdir) == 1000
    assert snapshot_count(spark, tdir, where) == 601

    m = read_manifest(tdir, 1)
    interior = [
        e["path"]
        for e in m["files"]
        if _entry_all_match(e, where) and not _entry_prunable(e, where)
    ]
    assert interior  # the window must span whole files for the claim
    for p in interior:
        os.rename(f"{tdir}/{p}", f"{tdir}/{p}.hidden")
    try:
        assert snapshot_count(spark, tdir, where) == 601
    finally:
        for p in interior:
            os.rename(f"{tdir}/{p}.hidden", f"{tdir}/{p}")

    # DV debt disproves all-match for its file: still exact, via scan
    snapshot_delete(spark, tdir, [("k", ">=", 300), ("k", "<=", 309)], mode="dv")
    assert snapshot_count(spark, tdir, where) == 591
    assert snapshot_count(spark, tdir) == 990


def test_footer_stats_match_spark_job_exactly(spark, tmp_path):
    """Per-file manifest stats now come from the parquet FOOTERS the
    staging write already produced (zero data IO) — they must be
    BYTE-IDENTICAL to what the fallback Spark aggregate computes, across
    integrals, strings with nulls, all-null columns, dates, and multiple
    row groups; float/double and timestamp (INT96) stats must DECLINE
    (return None) so the Spark job keeps authority where footer parity
    is not provable."""
    from f1_data_pipeline_spark import snaplog
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        _footer_file_entries,
        _staged_file_entries,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    df = spark.range(0, 5000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 != 0, F.concat(F.lit("s"), F.col("id"))).alias("s"),
        F.when(F.col("id") < 0, F.lit("x")).alias("allnull"),
        F.to_date(
            F.concat(
                F.lit("2024-01-"),
                F.lpad((F.col("id") % 28 + 1).cast("string"), 2, "0"),
            )
        ).alias("d"),
        (F.col("id") * 1.5).alias("v"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(mins=F.col("id"))
        ).alias("ts"),
    )
    cols = ["k", "s", "allnull", "d"]
    snapshot_write(df.repartition(4), tdir, stats_cols=cols)

    names = {
        i.base_name: int(i.size)
        for i in snaplog.listdir(f"{tdir}/v=1")
        if i.base_name.endswith(".parquet")
    }

    foot = _footer_file_entries(tdir, 1, names, cols)
    assert foot is not None, "footer path declined on trusted column types"
    import f1_data_pipeline_spark.storage as S

    real = S._footer_file_entries
    S._footer_file_entries = lambda *a, **k: None  # force the Spark job
    try:
        job = _staged_file_entries(spark, tdir, 1, cols)
    finally:
        S._footer_file_entries = real
    assert foot == job

    # float/double (NaN parity hazard) and INT96 timestamps decline —
    # and the commit path still produced stats for them via the fallback
    assert _footer_file_entries(tdir, 1, names, cols + ["v"]) is None
    assert _footer_file_entries(tdir, 1, names, cols + ["ts"]) is None
    tdir2 = str(tmp_path / "tbl2")
    snapshot_write(df.coalesce(1), tdir2, stats_cols=["k", "v", "ts"])
    st = read_manifest(tdir2, 1)["files"][0]["stats"]
    assert st["v"] == {"min": 0.0, "max": 7498.5, "nulls": 0}
    assert st["ts"]["min"] == "2024-01-01 00:00:00"

    # multi-row-group files aggregate across groups
    import pyarrow.parquet as pq

    one = sorted(names)[0]
    t = pq.read_table(f"{tdir}/v=1/{one}")
    import os

    os.makedirs(f"{tdir}/v=99")
    pq.write_table(t, f"{tdir}/v=99/{one}", row_group_size=200)
    multi = _footer_file_entries(
        tdir, 99, {one: os.path.getsize(f"{tdir}/v=99/{one}")}, cols
    )
    assert multi is not None and pq.ParquetFile(
        f"{tdir}/v=99/{one}"
    ).metadata.num_row_groups > 1
    want = next(e for e in foot if e["path"].endswith(one))
    assert multi[0]["stats"] == want["stats"]
    assert multi[0]["rows"] == want["rows"]


def test_footer_stats_decline_truncated_min(spark, tmp_path):
    """A >=64-byte string MIN declines the footer path just like a long
    MAX does (parquet-mr truncates long binary bounds to a prefix — a
    valid envelope but not byte-identical to the Spark job), so manifest
    stats keep exact-parity authority via the fallback."""
    from f1_data_pipeline_spark import snaplog
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        _footer_file_entries,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    long_min = "a" * 100
    df = spark.createDataFrame(
        [(1, long_min), (2, "b")], "k long, s string"
    )
    snapshot_write(df.coalesce(1), tdir, stats_cols=["k", "s"])
    names = {
        i.base_name: int(i.size)
        for i in snaplog.listdir(f"{tdir}/v=1")
        if i.base_name.endswith(".parquet")
    }
    assert _footer_file_entries(tdir, 1, names, ["k", "s"]) is None
    # the commit path fell back to the Spark job: the full min survives
    st = read_manifest(tdir, 1)["files"][0]["stats"]["s"]
    assert st["min"] == long_min and st["max"] == "b"


def test_cdf_restore_vs_append_race_leaves_no_torn_changes(spark, tmp_path):
    """Restore on a cdf table holds the v=N staging claim while writing
    _changes/v=N, so a concurrent writer deriving the same next version
    can never interleave its change files into a committed manifest:
    after racing restores against appends, every committed manifest's
    change entries exist on disk and the full change feed replays."""
    import os
    import threading

    from f1_data_pipeline_spark.ingest import feedsource
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import (
        SnapshotConflictError,
        snapshot_append,
        snapshot_restore,
        snapshot_upsert,
        snapshot_version,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame(
            [(i, float(i)) for i in range(50)], "k long, v double"
        ).coalesce(2),
        tdir,
        stats_cols=["k"],
        change_files=True,
    )
    # v2: an upsert so restores have real churn to diff
    snapshot_upsert(
        spark, tdir,
        spark.createDataFrame([(1, 100.0)], "k long, v double"),
        key="k",
    )
    errs: list = []

    def restorer():
        # a cdf restore holds the v=N claim across its diff jobs, so
        # give the appender air between iterations — the test probes
        # torn change files, not starvation under suite-loaded CPU
        import time as _time

        try:
            for _ in range(2):
                for attempt in range(60):
                    try:
                        snapshot_restore(spark, tdir, 1)
                        break
                    except SnapshotConflictError:
                        _time.sleep(0.05)
                _time.sleep(0.2)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def appender():
        try:
            for j in range(3):
                snapshot_append(
                    spark.createDataFrame(
                        [(1000 + j * 10 + i, 0.0) for i in range(5)],
                        "k long, v double",
                    ),
                    tdir,
                    retries=400,
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=restorer),
        threading.Thread(target=appender),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    latest = snapshot_version(spark, tdir)
    for v in range(1, latest + 1):
        m = read_manifest(tdir, v)
        for entry in m.get("changes") or []:
            assert os.path.exists(f"{tdir}/{entry['path']}"), (v, entry)
    feedsource.register(spark)
    feed = (
        spark.read.format("snapshotfeed")
        .option("changeFeed", "true")
        .option("startingVersion", "2")
        .load(tdir)
    )
    feed.collect()  # no FileNotFound: every served change file exists


def test_dataset_exists_probes_remote_uris_through_hadoop_fs(tmp_path):
    """Artifacts are written by Spark's Hadoop writer, so a remote URI —
    including s3a://, which pyarrow.fs cannot resolve — is probed through
    the path's own Hadoop FileSystem; local paths stay a syscall."""
    from types import SimpleNamespace

    from f1_data_pipeline_spark.storage import dataset_exists

    present = {"s3a://bucket/idx/_SUCCESS"}
    probed = []

    class _Path:
        def __init__(self, uri):
            self.uri = uri

        def getFileSystem(self, conf):
            return SimpleNamespace(exists=lambda p: probed.append(p.uri) or p.uri in present)

    hadoop_fs = SimpleNamespace(Path=_Path)
    fake = SimpleNamespace(
        _jvm=SimpleNamespace(org=SimpleNamespace(apache=SimpleNamespace(
            hadoop=SimpleNamespace(fs=hadoop_fs)))),
        _jsc=SimpleNamespace(hadoopConfiguration=lambda: None),
    )
    assert dataset_exists(fake, "s3a://bucket/idx/_SUCCESS")
    assert not dataset_exists(fake, "s3a://bucket/other/_SUCCESS")
    assert probed == ["s3a://bucket/idx/_SUCCESS", "s3a://bucket/other/_SUCCESS"]
    (tmp_path / "a").write_text("x")
    for local in (str(tmp_path / "a"), f"file:{tmp_path}/a", f"file://{tmp_path}/a"):
        assert dataset_exists(fake, local)
    assert not dataset_exists(fake, str(tmp_path / "missing"))
    assert len(probed) == 2


def test_commit_side_frames_start_no_python_worker(spark, tmp_path, monkeypatch):
    """Frames the commit paths build from driver-side values plan as a
    ``LocalTableScan``, never a Python-RDD scan (``Scan ExistingRDD``),
    so reading them starts no Python worker: the upsert probe's envelope
    table, the empty old side of an append's change feed, and the empty
    DV side when only one endpoint carries a deletion vector."""
    from f1_data_pipeline_spark.storage import (
        snapshot_append,
        snapshot_changes,
        snapshot_delete,
        snapshot_upsert,
    )

    tdir = _dv_table(spark, tmp_path, n=40, files=2)
    def rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.lit("u").alias("g"),
            (F.col("id") * 2.0).alias("x"),
        )

    built = []
    stock = type(spark).createDataFrame

    def spy(self, *args, **kwargs):
        df = stock(self, *args, **kwargs)
        built.append(df)
        return df

    monkeypatch.setattr(type(spark), "createDataFrame", spy)
    v_up = snapshot_upsert(spark, tdir, rows(30, 45), "k", stats_cols=["k"])
    assert built, "the upsert probe builds its envelope table"
    v_dv, _ = snapshot_delete(spark, tdir, [("k", ">=", 40)], mode="dv")
    v_app = snapshot_append(rows(100, 103), tdir)
    feeds = [
        snapshot_changes(spark, tdir, "k", v_up, v_dv),
        snapshot_changes(spark, tdir, "k", v_dv, v_app),
    ]
    for df in built + feeds:
        assert "ExistingRDD" not in _plan(df), _plan(df)
    assert {r["k"] for r in feeds[0].collect()} == set(range(40, 45))
    assert {r["k"] for r in feeds[1].collect()} == {100, 101, 102}


# ---------------------------------------------------------------------------
# Commit-record inheritance: the table-level fields each commit kind
# carries from its parent record
# ---------------------------------------------------------------------------

_PARENT = "parent"  # expected value: identical to the parent record's field


def _kv_rows(spark, keys):
    return spark.createDataFrame([(k, float(k)) for k in keys], "k long, v double")


@pytest.fixture(scope="module")
def inheritance_bases(spark, tmp_path_factory):
    """Two small tables whose head record carries every table-level field
    at once: schema, a Bloom spec (``full`` only), the change-data-feed
    flag, a deletion vector on the 100s file and properties holding both
    a plain entry and a ``txn`` stamp. ``feed`` omits the Bloom spec,
    which the ``snapshotfeed`` writer refuses by design."""
    from f1_data_pipeline_spark.storage import (
        snapshot_append,
        snapshot_delete,
        snapshot_restamp,
        snapshot_write,
    )

    root = tmp_path_factory.mktemp("inheritance")
    bases = {}
    for name, full in (("full", True), ("feed", False)):
        tdir = str(root / name)
        snapshot_write(
            _kv_rows(spark, range(10)).coalesce(1), tdir, stats_cols=["k"],
            bloom_cols=["k"] if full else None, change_files=True,
        )
        snapshot_append(_kv_rows(spark, range(100, 110)).coalesce(1), tdir)
        snapshot_delete(spark, tdir, [("k", "=", 105)], mode="dv")
        snapshot_restamp(spark, tdir, {"src": "matrix", "txn": {"app": 1}})
        bases[name] = tdir
    return bases


def _op_feed_write(mode):
    def run(spark, tdir, tmp):
        from f1_data_pipeline_spark.ingest import feedsource

        feedsource.register(spark)
        _kv_rows(spark, range(200, 203)).write.format("snapshotfeed").mode(
            mode
        ).save(tdir)
        return tdir

    return run


def _op(fn_name, *args, **kwargs):
    """Run ``storage.<fn_name>`` on the table; callable args build frames."""

    def run(spark, tdir, tmp):
        import f1_data_pipeline_spark.storage as S

        a = [x(spark) if callable(x) else x for x in args]
        if fn_name in ("snapshot_write", "snapshot_append"):
            getattr(S, fn_name)(a[0], tdir, *a[1:], **kwargs)
        else:
            getattr(S, fn_name)(spark, tdir, *a, **kwargs)
        return tdir

    return run


_TXN_ONLY = {"txn": {"app": 1}}
# case -> (base, op, expected op label, expected table-level fields).
# Data-changing commits keep only the parent's txn stamps; content-
# preserving ones carry the parent's properties wholesale; a full
# replace and a restore start from their own deliberate source.
_INHERITANCE_CASES = {
    "write": (
        "full", _op("snapshot_write", lambda s: _kv_rows(s, range(5)), stats_cols=["k"]),
        "write",
        dict(bloom_spec=None, cdf=True, dv=False, properties=None),
    ),
    "append": (
        "full", _op("snapshot_append", lambda s: _kv_rows(s, range(200, 203))), "append",
        dict(bloom_spec=_PARENT, cdf=True, dv=True, properties=_TXN_ONLY),
    ),
    "upsert": (
        "full", _op("snapshot_upsert", lambda s: _kv_rows(s, [3]), "k"),
        "upsert",
        dict(bloom_spec=_PARENT, cdf=True, dv=True, properties=_TXN_ONLY),
    ),
    "apply_cdc": (
        "full", _op(
            "snapshot_apply_cdc",
            lambda s: s.createDataFrame([(4, 0.0, "D")], "k long, v double, op string"),
            "k",
        ),
        "cdc",
        dict(bloom_spec=_PARENT, cdf=True, dv=True, properties=_TXN_ONLY),
    ),
    "merge": (
        "full", _op("snapshot_merge", lambda s: _kv_rows(s, [2, 300]), "k"),
        "merge",
        dict(bloom_spec=_PARENT, cdf=True, dv=True, properties=_TXN_ONLY),
    ),
    "delete_cow": (
        "full", _op("snapshot_delete", [("k", "=", 1)], mode="cow"), "delete",
        dict(bloom_spec=_PARENT, cdf=True, dv=True, properties=_TXN_ONLY),
    ),
    "delete_dv": (
        "full", _op("snapshot_delete", [("k", "=", 1)], mode="dv"), "delete",
        dict(bloom_spec=_PARENT, cdf=True, dv=True, properties=_TXN_ONLY),
    ),
    "restamp": (
        "full", _op("snapshot_restamp", {"note": 2}), "restamp",
        dict(bloom_spec=_PARENT, cdf=True, dv=True,
             properties={"note": 2, "txn": {"app": 1}}),
    ),
    "restore": (
        # v1 predates the deletion vector and the stamp
        "full", _op("snapshot_restore", 1), "restore",
        dict(bloom_spec=_PARENT, cdf=True, dv=False, properties=None),
    ),
    "optimize": (
        "full", _op("snapshot_optimize"), "optimize",
        dict(bloom_spec=_PARENT, cdf=True, dv=False, properties=_PARENT),
    ),
    "feed_append": (
        "feed", _op_feed_write("append"), "append",
        dict(bloom_spec=None, cdf=True, dv=True, properties=_TXN_ONLY),
    ),
    # the SparkSession-less writer cannot materialize a replace's netted
    # diff, so an overwrite of a change-data-feed table is refused
    "feed_overwrite": ("feed", _op_feed_write("overwrite"), None, None),
}


@pytest.mark.parametrize("case", sorted(_INHERITANCE_CASES))
def test_commit_record_inheritance_matrix(spark, inheritance_bases, tmp_path, case):
    """Every commit kind derives the table-level fields of its record
    from the parent record by one rule (schema, Bloom spec, change-data-
    feed flag, deletion vector, properties)."""
    import shutil

    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import snapshot_version

    base, op, label, want = _INHERITANCE_CASES[case]
    tdir = str(tmp_path / "tbl")
    shutil.copytree(inheritance_bases[base], tdir)
    head = snapshot_version(spark, tdir)
    parent = read_manifest(tdir, head)
    if want is None:
        with pytest.raises(Exception, match="snapshot_write"):
            op(spark, tdir, tmp_path)
        assert snapshot_version(spark, tdir) == head
        return
    out = op(spark, tdir, tmp_path)
    rec = read_manifest(out, snapshot_version(spark, out))
    assert rec["op"] == label
    assert rec.get("schema") == parent["schema"]
    got = {
        "bloom_spec": rec.get("bloom_spec"),
        "cdf": rec.get("cdf"),
        "dv": bool(rec.get("dv")),
        "properties": rec.get("properties") or None,
    }
    expect = {
        k: (parent.get(k) if v == _PARENT else v) for k, v in want.items()
    }
    assert got == expect


# -- manifest-listed reads ----------------------------------------------------

_LISTING = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs it launched)``, counted through a
    job group on the calling thread."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def wide_table(spark, tmp_path_factory):
    """A table past Spark's default parallel-listing threshold (32 files):
    v1 writes k in [0, 480) over 48 files (stats on k only); v2 upserts
    k in [470, 490) and adds column w; v3 DV-deletes k < 5. Returns the
    table dir and each version's rows as {k: (v, w)}."""
    from f1_data_pipeline_spark.storage import (
        snapshot_delete,
        snapshot_upsert,
        snapshot_write,
    )

    tdir = str(tmp_path_factory.mktemp("wide") / "tbl")
    v1 = spark.range(0, 480).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")
    )
    snapshot_write(v1.repartitionByRange(48, "k"), tdir, stats_cols=["k"])
    snapshot_upsert(
        spark,
        tdir,
        spark.range(470, 490).select(
            F.col("id").alias("k"),
            (F.col("id") * 2.0).alias("v"),
            F.concat(F.lit("w"), F.col("id").cast("string")).alias("w"),
        ),
        key="k",
        evolve_schema=True,
    )
    snapshot_delete(spark, tdir, [("k", "<", 5)], mode="dv")
    m1 = {k: (k * 1.5, None) for k in range(480)}
    m2 = {**m1, **{k: (k * 2.0, f"w{k}") for k in range(470, 490)}}
    m3 = {k: r for k, r in m2.items() if k >= 5}
    return tdir, {1: m1, 2: m2, 3: m3}


def test_manifest_read_lists_files_on_the_driver(spark, wide_table):
    """A read of a version past 32 files resolves its file list on the
    driver: the scan is the only Spark job. An unstatted-column
    stats_agg runs only its dirty-file aggregate (no listing job, and
    its one-row answer is local)."""
    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import snapshot_read, snapshot_stats_agg

    tdir, _ = wide_table
    assert len(read_manifest(tdir, 1)["files"]) > 32
    _, n = _jobs(
        spark,
        lambda: snapshot_read(spark, tdir, version=1)
        .write.format("noop").mode("overwrite").save(),
    )
    assert n == 1
    row, n = _jobs(
        spark, lambda: snapshot_stats_agg(spark, tdir, ["v"], version=1).head()
    )
    assert row["max_v"] == 479 * 1.5
    assert n == 2


def test_manifest_read_restores_the_listing_threshold(spark, wide_table):
    """The session's threshold is what it was after a read, an explicit
    value and an unset one alike, and after a read that raises."""
    import os

    from f1_data_pipeline_spark.snaplog import read_manifest
    from f1_data_pipeline_spark.storage import snapshot_read

    tdir, _ = wide_table
    jconf = spark._jsparkSession.sessionState().conf()
    hidden = read_manifest(tdir, 1)["files"][0]["path"]
    for setting in (None, "8"):
        if setting is None:
            spark.conf.unset(_LISTING)
        else:
            spark.conf.set(_LISTING, setting)
        before = spark.conf.get(_LISTING)
        _, n = _jobs(spark, lambda: snapshot_read(spark, tdir, version=1))
        assert n == 0  # resolving the relation listed on the driver
        assert spark.conf.get(_LISTING) == before
        assert jconf.contains(_LISTING) == (setting is not None)
        os.rename(f"{tdir}/{hidden}", f"{tdir}/{hidden}.hidden")
        try:
            with pytest.raises(FileNotFoundError, match="missing data"):
                snapshot_read(spark, tdir, version=1)
        finally:
            os.rename(f"{tdir}/{hidden}.hidden", f"{tdir}/{hidden}")
        assert spark.conf.get(_LISTING) == before
        assert jconf.contains(_LISTING) == (setting is not None)
    spark.conf.unset(_LISTING)


def test_concurrent_manifest_reads_restore_the_listing_threshold(
    spark, wide_table
):
    """Two threads reading at once each list on the driver, and neither
    restores the other's raised value over the session's own."""
    import threading

    from f1_data_pipeline_spark.storage import snapshot_read

    tdir, _ = wide_table
    spark.conf.set(_LISTING, "8")
    jobs: list[int] = []
    errors: list[BaseException] = []

    def reader(version):
        try:
            for _ in range(4):
                jobs.append(
                    _jobs(spark, lambda: snapshot_read(spark, tdir, version=version))[1]
                )
        except BaseException as e:  # surfaced on the main thread
            errors.append(e)

    threads = [threading.Thread(target=reader, args=(v,)) for v in (1, 2)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors
        assert jobs == [0] * 8
        assert spark.conf.get(_LISTING) == "8"
    finally:
        spark.conf.unset(_LISTING)


def test_manifest_reads_match_the_table_model(spark, wide_table):
    """snapshot_read (each version), snapshot_changes and
    snapshot_stats_agg over a schema-evolved, deletion-vectored table
    past 32 files equal the rows the writes put there."""
    from f1_data_pipeline_spark.storage import (
        snapshot_changes,
        snapshot_read,
        snapshot_stats_agg,
    )

    tdir, model = wide_table
    for v, rows in model.items():
        df = snapshot_read(spark, tdir, version=v)
        assert df.columns == (["k", "v"] if v == 1 else ["k", "v", "w"])
        got = {r["k"]: (r["v"], r["w"] if v > 1 else None) for r in df.collect()}
        assert got == rows
    feed = snapshot_changes(spark, tdir, "k", 1, 3)
    got = sorted(
        (r["_change_type"], r["k"], r["v"], r["w"]) for r in feed.collect()
    )
    m1, m3 = model[1], model[3]
    want = sorted(
        [("delete", k, *m1[k]) for k in range(5)]
        + [("update_preimage", k, *m1[k]) for k in range(470, 480)]
        + [("update_postimage", k, *m3[k]) for k in range(470, 480)]
        + [("insert", k, *m3[k]) for k in range(480, 490)]
    )
    assert got == want
    r = snapshot_stats_agg(spark, tdir, ["k", "v", "w"]).head()
    ws = [w for _, w in m3.values() if w is not None]
    assert (r["n_rows"], r["min_k"], r["max_k"], r["nulls_k"]) == (485, 5, 489, 0)
    assert (r["min_v"], r["max_v"]) == (7.5, 489 * 2.0)
    assert (r["min_w"], r["max_w"], r["nulls_w"]) == (min(ws), max(ws), 485 - 20)


def test_snapshot_stats_agg_compiles_its_answer_once(spark, wide_table, compilations):
    """The one-row answer is a local relation: a second metadata-only
    call, with new values, compiles no class."""
    from f1_data_pipeline_spark.storage import snapshot_stats_agg

    tdir, _ = wide_table
    snapshot_stats_agg(spark, tdir, ["k"], version=1).collect()
    c0 = compilations()
    out = snapshot_stats_agg(spark, tdir, ["k"], version=2)
    assert out.inputFiles() == []
    assert out.head()["max_k"] == 489
    assert compilations() - c0 == 0


def _writer_cycle(spark, root) -> dict[str, str]:
    """Every package writer, once, over small tables under ``root``:
    returns ``{name: table_dir}``. Deterministic content, so two builds
    of the package can be compared table by table."""
    import os

    from f1_data_pipeline_spark import storage as S
    from f1_data_pipeline_spark.ingest import feedsource
    from f1_data_pipeline_spark.streaming import stream_snapshot_append

    root = str(root)
    main, first = f"{root}/main", f"{root}/first"

    def rows(lo, hi, tag):
        return spark.createDataFrame(
            [(k, f"{tag}-{k}") for k in range(lo, hi)], "k long, v string"
        )

    S.snapshot_write(
        rows(0, 40, "w").repartitionByRange(4, "k"), main, stats_cols=["k"],
        change_files=True,
    )
    S.snapshot_append(rows(40, 50, "a"), first)  # first commit creates it
    S.snapshot_append(
        rows(50, 60, "e").withColumn("w", F.col("k") * 2), main,
        evolve_schema=True,
    )
    S.snapshot_upsert(spark, main, rows(35, 45, "u"), key="k", evolve_schema=True)
    S.snapshot_apply_cdc(
        spark, main,
        rows(0, 3, "c").withColumn("op", F.when(F.col("k") == 0, "D").otherwise("U")),
        key="k", evolve_schema=True,
    )
    S.snapshot_merge(spark, main, rows(55, 65, "m"), key="k", evolve_schema=True)
    S.snapshot_delete(spark, main, [("k", "<", 5)], mode="dv")
    S.snapshot_delete(spark, main, [("k", ">=", 60)], mode="cow")
    S.snapshot_optimize(spark, main)
    S.snapshot_restamp(spark, main, {"step": "restamp"})
    S.snapshot_restore(spark, main, 2)
    feedsource.register(spark)
    feed = f"{root}/feed"
    for mode, lo in (("append", 0), ("append", 10), ("overwrite", 20)):
        rows(lo, lo + 10, mode).coalesce(1).write.format("snapshotfeed").mode(
            mode
        ).save(feed)
    src = f"{root}/stream-in"
    rows(0, 5, "s").coalesce(1).write.parquet(src)
    q = stream_snapshot_append(
        spark.readStream.schema("k long, v string").parquet(src),
        f"{root}/stream", os.path.join(root, "stream-ckpt"),
    )
    q.awaitTermination(120)
    return {
        "main": main, "first": first, "feed": feed, "stream": f"{root}/stream",
    }


def test_every_writer_publishes_files_schema_and_op(spark, tmp_path):
    """The record-shape invariant ``snaplog.read_manifest`` checks: every
    writer's commit record holds a ``files`` list, a non-empty ``schema``
    and an ``op`` label (read here as raw JSON, not through the check)."""
    from f1_data_pipeline_spark import snaplog

    ops = set()
    for name, tdir in _writer_cycle(spark, tmp_path).items():
        latest = snaplog.latest_version(tdir)
        assert latest >= 1, name
        for v in range(1, latest + 1):
            m = _manifest(tdir, v)
            assert isinstance(m.get("files"), list), (name, v)
            assert m.get("schema"), (name, v)
            assert m.get("op"), (name, v)
            ops.add(m["op"])
            assert snaplog.read_manifest(tdir, v) == m
    assert ops == {
        "write", "append", "upsert", "cdc", "merge", "delete", "optimize",
        "restamp", "restore",
    }


def test_cdc_that_cannot_change_a_row_stops_after_its_probe(spark, tmp_path):
    """Tombstones of keys no file envelope admits change nothing: the
    probe proves it, so the call launches the probe's jobs alone (its
    shuffle and broadcast stages run as jobs of their own under AQE),
    stages nothing and keeps the version. A NULL op is an upsert, so
    such a row still inserts."""
    import os

    from f1_data_pipeline_spark import snaplog
    from f1_data_pipeline_spark.storage import (
        _probe_merge_batch,
        snapshot_apply_cdc,
        snapshot_read,
        snapshot_version,
        snapshot_write,
    )

    tdir = str(tmp_path / "tbl")
    snapshot_write(
        _keyed(spark, 0, 1000).repartitionByRange(4, "k"), tdir, stats_cols=["k"]
    )
    tomb = spark.createDataFrame(
        [(5000, "x", "D"), (5001, "y", "delete")], "k long, v string, op string"
    )
    entries = snaplog.read_manifest(tdir, 1)["files"]
    _, probe_jobs = _jobs(
        spark, lambda: _probe_merge_batch(spark, entries, ["k"], tomb, "probe")
    )
    v, jobs = _jobs(spark, lambda: snapshot_apply_cdc(spark, tdir, tomb, key="k"))
    assert (v, jobs) == (1, probe_jobs)
    assert snapshot_version(spark, tdir) == 1
    assert sorted(os.listdir(tdir)) == ["_manifests", "v=1"]
    null_op = spark.createDataFrame(
        [(5000, "x", "D"), (5002, "z", None)], "k long, v string, op string"
    )
    assert snapshot_apply_cdc(spark, tdir, null_op, key="k") == 2
    assert snapshot_read(spark, tdir).where("k >= 5000").collect()[0]["k"] == 5002


@pytest.mark.parametrize("writer", ["cow_delete", "optimize", "cdf_upsert"])
def test_staged_writer_losing_to_a_metadata_commit_leaves_no_stage(
    spark, tmp_path, monkeypatch, writer
):
    """A metadata-only commit (here a restamp) takes version N without
    claiming ``v=N``; a staged writer whose commit it beats raises the
    typed conflict and removes its ``v=N`` and ``_changes/v=N``."""
    import os

    import f1_data_pipeline_spark.storage as S

    tdir = str(tmp_path / "tbl")
    S.snapshot_write(
        _keyed(spark, 0, 100).repartitionByRange(4, "k"), tdir, stats_cols=["k"],
        change_files=writer == "cdf_upsert",
    )
    real_entries = S._staged_file_entries

    def racy_entries(sp, table_dir, version, stats_cols):
        if table_dir == tdir and S.snapshot_version(sp, tdir) < version:
            S.snapshot_restamp(sp, tdir, {"by": "interloper"})
        return real_entries(sp, table_dir, version, stats_cols)

    monkeypatch.setattr(S, "_staged_file_entries", racy_entries)
    write = {
        "cow_delete": lambda: S.snapshot_delete(spark, tdir, [("k", "<", 10)]),
        "optimize": lambda: S.snapshot_optimize(spark, tdir),
        "cdf_upsert": lambda: S.snapshot_upsert(
            spark, tdir, _keyed(spark, 95, 105, tag="u"), key="k"
        ),
    }[writer]
    with pytest.raises(S.SnapshotConflictError, match="committed first"):
        write()
    assert S.snapshot_version(spark, tdir) == 2
    assert S.snapshot_properties(spark, tdir) == {"by": "interloper"}
    assert not os.path.exists(os.path.join(tdir, "v=2"))
    assert not os.path.exists(os.path.join(tdir, "_changes", "v=2"))
    assert S.snapshot_read(spark, tdir).count() == 100


def test_range_clustered_append_evaluates_its_batch_once(spark, tmp_path):
    """repartitionByRange samples its input in a job of its own; the
    staged batch is persisted first, so a clustered append evaluates
    each batch row once — the first commit, which creates the table,
    included."""
    from f1_data_pipeline_spark.storage import snapshot_append

    tdir = str(tmp_path / "tbl")
    evals = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(k):
        evals.add(1)
        return k

    batch = spark.range(100, 200, numPartitions=4).select(counted("id").alias("k"))
    snapshot_append(batch, tdir, cluster_by=["k"], cluster_files=2)
    assert evals.value / 100 == 1.0
    snapshot_append(batch, tdir, cluster_by=["k"], cluster_files=2)
    assert evals.value / 100 == 2.0
