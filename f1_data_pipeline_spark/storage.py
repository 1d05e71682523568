"""Storage for the 100 TB path: physical-layout helpers (salting for
hot-key skew, partitioned writes, the staged swap of rewrite-in-place
sinks) and the snapshot tables (versioned parquet + an immutable commit
log, below).

The reference has no layout story (single Postgres). At cluster scale one
question that dominates join cost is "does one key overwhelm one task?"
(salting + AQE skew-join split), provided as a plain DataFrame helper so
pipelines opt in per join.
"""

from __future__ import annotations

import functools
import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from f1_data_pipeline_spark import snaplog
from f1_data_pipeline_spark.snaplog import SnapshotConflictError


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to hot keys: the left (large, skewed) side gets a
    deterministic salt derived from its full row hash, the right side is
    replicated ``num_salts``× — so one hot key spreads over ``num_salts``
    tasks instead of melting one.

    Deterministic (hash-based, not rand()) so retries/speculative tasks
    agree. AQE's skew-join split handles moderate skew automatically; this
    is for the pathological key that exceeds a single executor even after
    AQE splits. Result is exactly the plain join's rows.
    """
    lsalt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(num_salts))
    l = left.withColumn("__salt", lsalt)
    r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    out = l.join(r, [key, "__salt"], how)
    return out.drop("__salt")


def dataset_exists(spark: SparkSession, path: str) -> bool:
    """URI-capable existence probe for artifacts Spark's writer produced
    (``write_json_artifact``): ``os.path.exists`` only sees the local
    filesystem, so remote paths go through the path's own Hadoop
    FileSystem — the layer that wrote them, so every scheme the writer
    speaks (``hdfs://``, ``s3a://`` …) can be probed. Local paths
    short-circuit to a syscall (no py4j round-trip)."""
    if "://" not in path or path.startswith("file:"):
        return snaplog.exists(path)
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return bool(p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p))


def _empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """An empty DataFrame of ``schema``. Built from an Arrow
    table rather than a Python list, it plans as a ``LocalTableScan``, so
    the actions that read it start no Python worker."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)


def write_json_artifact(spark: SparkSession, path: str, obj) -> None:
    """Persist a small (KB-scale) model artifact — codebooks, centroids,
    fitted stats — as a ONE-ROW parquet dataset at ``path``.

    Why not ``open(path, "w")``: a bare ``open`` binds the artifact to the
    driver's local filesystem, so an index written to ``s3a://…`` loses
    its metadata (deployment-breaking at cluster scale). Spark's own
    writer speaks every configured filesystem, commits atomically via
    ``_SUCCESS``, and an underscore-prefixed ``path`` is invisible to
    readers of the parent dataset directory (FileInputFormat hidden-file
    convention) — the artifact can live INSIDE the index it describes."""
    import json

    import pyarrow as pa

    spark.createDataFrame(pa.table({"json": [json.dumps(obj)]})).coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def read_json_artifact(spark: SparkSession, path: str):
    """Read back a ``write_json_artifact`` payload from any URI."""
    import json

    row = spark.read.parquet(path).head()
    if row is None:
        raise ValueError(
            f"empty model artifact at {path} — the dataset exists but holds "
            f"no row (interrupted write?); rebuild the artifact"
        )
    return json.loads(row["json"])


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
) -> None:
    """Hive-style partitioned parquet layout (e.g. silver tables by date):
    queries filtering on the partition column scan ONLY matching
    directories — `PartitionFilters` in the plan, zero I/O for pruned
    partitions. The 100 TB default for every time-keyed silver/gold table
    (asserted in tests/test_storage.py)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


# Staged-swap suffixes of the rewrite-in-place sink
# (``sinks.upsert_parquet``). A dataset at ``base`` is only ever replaced
# by: write the replacement to ``base__swap_tmp``, verify ``_SUCCESS``,
# rename the original aside to ``base__swap_old``, rename tmp into place,
# drop old. Both renames are same-directory, hence atomic on POSIX.
SWAP_TMP_SUFFIX = "__swap_tmp"
SWAP_OLD_SUFFIX = "__swap_old"


def recover_swap(path: str) -> bool:
    """Recover from a crash inside a staged swap's rename window.

    If ``path`` is missing but ``path__swap_old`` exists, a previous swap
    died between rename(base→old) and rename(tmp→base): restore the
    original with one rename. Returns True when a recovery happened. Every
    staged-swap entry point calls this first, so the crash window
    self-heals on the next operation instead of failing on a missing path.
    """
    old = path.rstrip("/") + SWAP_OLD_SUFFIX
    if not os.path.exists(path) and os.path.isdir(old):
        os.rename(old, path)
        return True
    return False


def staged_swap(base: str, tmp: str) -> None:
    """Install the staged dataset at ``tmp`` as ``base`` crash-safely.

    Verifies the stage is complete (``_SUCCESS``), then renames the original
    aside and the stage into place. A crash at ANY point leaves either the
    original (stage incomplete / first rename not reached, or rollback), or
    the new table installed — never neither; the one window where ``base``
    is momentarily absent is healed by ``recover_swap`` on the next call.

    Single-writer assumption: concurrent writers to the same path are not
    coordinated (that is a lakehouse transaction log's job — Delta/Iceberg
    snapshot commit replaces this helper at 100 TB); a concurrent READER can
    observe the brief missing-path window during the two renames.
    """
    if not os.path.exists(os.path.join(tmp, "_SUCCESS")):
        raise RuntimeError(f"staged dataset at {tmp} missing _SUCCESS marker")
    old = base + SWAP_OLD_SUFFIX
    shutil.rmtree(old, ignore_errors=True)  # stale leftover from a crash
    if os.path.exists(base):
        os.rename(base, old)
    try:
        os.rename(tmp, base)
    except Exception:
        if os.path.isdir(old):
            os.rename(old, base)  # roll back: restore the original
        raise
    shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------------------
# Snapshot tables: versioned parquet + immutable commit log (time travel)
# ---------------------------------------------------------------------------
#
# The minimal lakehouse commit protocol (the shape Delta/Iceberg formalize):
# every write lands in an immutable ``v=N`` directory, and a commit is the
# ATOMIC creation of an immutable per-version record ``_manifests/N.json``
# (create-no-overwrite — no mutable pointer, no rename, which is exactly
# what object stores without atomic rename need; Delta's _delta_log uses
# the same shape). A crashed writer can never expose a half-written table,
# concurrent readers always see a complete snapshot, and old versions stay
# readable until vacuumed. The log's format and every filesystem touch
# live in ``snaplog`` (pyarrow.fs resolved from the path itself), shared
# with the ``snapshotfeed`` DataSource writer — so a table dir may be a
# plain path, ``file:``, ``hdfs://``/``viewfs://`` or a pyarrow object
# store, never the driver's local os module. Publish-once is atomic on
# POSIX (hard link); on HDFS and object stores pyarrow.fs offers no
# create-no-overwrite, so single-writer discipline (or a commit service)
# is required, as with every log-structured table format.

def snapshot_version(spark: SparkSession, table_dir: str) -> int:
    """Current committed version (0 = no commit yet), resolved from the
    manifest-log checkpoint plus O(tail) existence probes
    (``snaplog.latest_version``)."""
    return snaplog.latest_version(table_dir)


def snapshot_version_asof(spark: SparkSession, table_dir: str, ts: float) -> int:
    """The version committed at-or-before unix time ``ts`` (Delta's
    ``TIMESTAMP AS OF``): commit records carry their wall-clock commit
    time, so this is a pure manifest scan. Raises if the table's first
    commit is later than ``ts``.

    The scan is ``snaplog.version_asof``, shared with the
    ``snapshotfeed`` timestamp bounds: commit times are clamped to the
    running max (writer clock skew never resolves an as-of to a version
    that was not current at ``ts``) and the scan stops at the first late
    commit."""
    best = snaplog.version_asof(
        table_dir, ts, after=False,
        latest=snapshot_version(spark, table_dir),
        ck=snaplog.read_checkpoint(table_dir),
    )
    if best < 1:
        raise FileNotFoundError(
            f"no snapshot committed at or before ts={ts} in {table_dir}"
        )
    return best


def _probe_merge_batch(
    spark: SparkSession,
    entries: list[dict],
    keys: list[str],
    probe_df: DataFrame,
    what: str,
    delete_col: str | None = None,
) -> tuple[set[str], bool]:
    """ONE query over the change batch serving the pre-stage gates of
    the merge family — previously separate passes per commit (under AQE
    its shuffle and broadcast stages still run as jobs of their own):

    1. ANSI MERGE cardinality (at most one change row per key tuple,
       key components non-null) — raises typed on violation.
    2. Manifest-level envelope pruning: the set of file paths whose
       composite [min,max] envelope admits at least one change-key tuple
       (a file can hold a tuple only if EVERY key column's envelope
       admits its component — the per-column conjunction Delta/Iceberg
       stats give). Collected driver-side because it IS the rewrite
       plan, bounded by the FILE count, never the change count.
    3. Whether any change row may insert: none may when the batch is
       empty or every row is a tombstone (boolean ``delete_col`` true).

    Returns ``(touched paths, may insert)``. The fused plan is one
    groupBy over the change keys (the same shuffle the old distinct()
    paid) left-joined against the broadcast (KB-scale) envelope table,
    folded to a single row — so update batches of any size make one
    pass and never round-trip rows through the driver."""
    import pyarrow as pa

    knames = [f"__k{i}" for i in range(len(keys))]
    ins = ~F.col(delete_col) if delete_col else F.lit(True)
    keyed = (
        probe_df.select(
            *[F.col(k).alias(n) for k, n in zip(keys, knames)], ins.alias("__ins")
        )
        .groupBy(*knames)
        .agg(F.count(F.lit(1)).alias("__n"), F.max("__ins").alias("__ins"))
    )
    nonnull = F.lit(True)
    for n in knames:
        nonnull = nonnull & F.col(n).isNotNull()
    env_rows = [
        tuple(
            [e["path"]]
            + [v for k in keys for v in (e["stats"][k]["min"], e["stats"][k]["max"])]
        )
        for e in entries
        if e.get("rows", 0) > 0
        and all(e["stats"][k]["min"] is not None for k in keys)
    ]
    joined, path_col = keyed, F.lit(None).cast("string")
    if env_rows:
        env_cols = ["__path"] + [
            n for i in range(len(keys)) for n in (f"__min{i}", f"__max{i}")
        ]
        # from Arrow, not a list: a LocalTableScan, so no Python worker
        # runs; pyarrow infers the column types list inference would
        env = spark.createDataFrame(
            pa.table({c: list(v) for c, v in zip(env_cols, zip(*env_rows))})
        )
        cond = F.lit(True)
        for i in range(len(keys)):
            cond = cond & (
                (F.col(f"__k{i}") >= F.col(f"__min{i}"))
                & (F.col(f"__k{i}") <= F.col(f"__max{i}"))
            )
        joined = keyed.join(F.broadcast(env), cond, "left")
        path_col = F.col("__path")
    row = joined.agg(
        F.max("__n").alias("__mx"),
        F.max(F.when(nonnull, 0).otherwise(1)).alias("__has_null"),
        F.collect_set(path_col).alias("__touched"),
        F.max("__ins").alias("__ins"),
    ).head()
    if row["__has_null"]:
        raise ValueError(f"{what}: change batch has NULL {keys!r} keys")
    if row["__mx"] is not None and row["__mx"] > 1:
        raise ValueError(
            f"{what}: change batch has duplicate {keys!r} keys — a target "
            f"row must match at most one change row; fold the batch to one "
            f"row per key (e.g. merge.cdc_apply) first"
        )
    # __ins is NULL on an empty batch
    return set(row["__touched"]), bool(row["__ins"])


def _stage_version(df: DataFrame, table_dir: str) -> tuple[int, str]:
    """CLAIM and write the next version's staging dir (steps 1–2 of the
    commit protocol); returns ``(version, staging_dir)``. See
    ``snapshot_write`` for the protocol rationale.

    The claim must be ATOMIC, not check-then-create: with an
    exists()-then-create claim two threads racing the same version
    could both "claim" it and then write
    parquet jobs into ONE directory — each job's commit tears down the
    other's ``_temporary`` tree, and worse, the winner's manifest would
    list the loser's committed part-files (duplicate rows once the loser
    retries). Found by the concurrent-append stress test. The claim is
    therefore ``snaplog.publish_once`` — the same primitive the commit
    record uses."""
    spark = df.sparkSession
    version = snapshot_version(spark, table_dir) + 1
    vdir = snaplog.claim_version(table_dir, version)
    # append, not overwrite: overwrite would delete the dir and with it the
    # _CLAIM marker that holds the stage against concurrent writers
    df.write.mode("append").parquet(vdir)
    if not snaplog.exists(f"{vdir}/_SUCCESS"):
        raise RuntimeError(f"snapshot stage at {vdir} missing _SUCCESS marker")
    return version, vdir


def _stage(
    df: DataFrame,
    table_dir: str,
    what: str,
    derived_from: int | None,
    cluster_by: list[str] | None = None,
    cluster_files: int | None = None,
) -> tuple[int, str]:
    """Stage ``df`` as the next version — the one staging sequence of
    every writer that stages rows: CLAIM and write ``v=N``
    (``_stage_version``), then the staleness gate. Returns ``(version,
    staging_dir)``.

    Staleness, for read-modify-write writers: a commit derived from
    version ``derived_from`` must stage as ``derived_from + 1``. If a
    concurrent writer committed in the window between the caller's
    manifest read and its staging claim, the carried file list is STALE
    — committing it would silently erase the concurrent commit's files
    (a lost update the create-no-overwrite commit record cannot catch,
    because the versions differ): the never-committed stage is removed
    and a retryable conflict is raised instead. None for blind writes,
    which carry nothing.

    ``cluster_by`` range-clusters the staged rows (into ``cluster_files``
    files when given). repartitionByRange samples its input in a job of
    its own, so the batch is persisted first: it is evaluated once."""
    cached = None
    if cluster_by:
        cached = df = df.persist()
        df = (
            df.repartitionByRange(cluster_files, *cluster_by)
            if cluster_files
            else df.repartitionByRange(*cluster_by)
        )
    try:
        version, vdir = _stage_version(df, table_dir)
    finally:
        if cached is not None:
            cached.unpersist()
    if derived_from is not None and version != derived_from + 1:
        snaplog.remove(vdir)
        raise SnapshotConflictError(
            f"{what}: staged v={version} but the write was derived from "
            f"v={derived_from} — a concurrent writer committed in between "
            f"and the carried file list is stale; re-read and re-derive"
        )
    return version, vdir


def _publish_staged(table_dir: str, version: int, record: dict) -> int:
    """Commit ``record`` as ``version`` for a writer holding the ``v=N``
    claim, and return the version. A lost commit race (say, a
    metadata-only commit took N without claiming it) removes this
    writer's never-committed ``v=N`` and ``_changes/v=N`` before
    re-raising, so the loser leaves nothing that blocks the next claim."""
    try:
        snaplog.commit(table_dir, version, record)
    except SnapshotConflictError:
        base = table_dir.rstrip("/")
        snaplog.remove(f"{base}/v={version}")
        snaplog.remove(f"{base}/_changes/v={version}")
        raise
    return version


# Parquet physical types whose FOOTER statistics decode to the same
# Python values the Spark stats job collects (so the two stat sources are
# interchangeable byte-for-byte in the manifest): integrals, UTF-8
# strings (unsigned-byte order == code-point order under UTF-8), dates,
# booleans. Floats are EXCLUDED (a NaN-polluted chunk's footer min/max
# silently diverges from Spark's NaN-aware aggregate — same rule the
# Arrow writer path applies value-side), INT96 timestamps carry no stats
# at all, and anything else falls back to the Spark job below.
_FOOTER_TRUSTED_PHYSICAL = {"INT32", "INT64", "BOOLEAN", "BYTE_ARRAY"}


def _footer_file_entries(
    table_dir: str, version: int, names: dict[str, int],
    stats_cols: list[str] | None,
) -> list[dict] | None:
    """Manifest entries for the staged files read from their parquet
    FOOTERS — no Spark job, no data IO beyond one footer per file. Every
    byte staged was already scanned once by the writer; re-reading it
    all (the fallback Spark aggregate below) just to recompute what the
    parquet writer already recorded is the dominant per-commit constant
    at small batch sizes and a full second read of the batch at large
    ones. Returns None whenever ANY requested stat is not provably
    footer-recoverable in Spark-job parity form (float/double columns,
    INT96 timestamps, missing chunk statistics, truncated string bounds,
    unreadable footers …) — the caller then runs the Spark job, so
    correctness never depends on footer quality."""
    import concurrent.futures as cf

    try:
        import pyarrow.parquet as pq

        f, root = snaplog.resolve(table_dir)
    except Exception:
        return None
    vroot = f"{root.rstrip('/')}/v={version}"
    cols = list(stats_cols or [])

    def one(name: str) -> dict | None:
        with f.open_input_file(f"{vroot}/{name}") as src:
            md = pq.ParquetFile(src).metadata
        e: dict = {
            "path": f"v={version}/{name}",
            "rows": int(md.num_rows),
            "bytes": names[name],
        }
        if not cols or md.num_rows == 0:
            return e  # zero-row files carry no stats key (Spark-job parity)
        idx = {
            md.schema.column(j).path: j for j in range(md.num_columns)
        }
        stats: dict = {}
        for c in cols:
            j = idx.get(c)
            if j is None:
                return None  # column absent from this footer: not provable
            mn = mx = None
            nulls = 0
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                cc = rg.column(j)
                st = cc.statistics
                if st is None or not st.has_null_count:
                    return None
                nulls += int(st.null_count)
                if not st.has_min_max:
                    if st.null_count == rg.num_rows:
                        continue  # all-null chunk: contributes nulls only
                    return None
                if cc.physical_type not in _FOOTER_TRUSTED_PHYSICAL:
                    return None
                gmn, gmx = st.min, st.max
                for bound in (gmn, gmx):
                    if isinstance(bound, str) and len(bound.encode()) >= 64:
                        # parquet-mr truncates long binary bounds (valid
                        # but inexact) — not Spark-job parity, fall back
                        return None
                    if isinstance(bound, bytes):
                        return None  # raw binary: stringification diverges
                mn = gmn if mn is None or gmn < mn else mn
                mx = gmx if mx is None or gmx > mx else mx
            stats[c] = {
                "min": snaplog.canon_stat(mn),
                "max": snaplog.canon_stat(mx),
                "nulls": nulls,
            }
        e["stats"] = stats
        return e

    try:
        with cf.ThreadPoolExecutor(max_workers=min(16, len(names))) as ex:
            out = list(ex.map(one, sorted(names)))
    except Exception:
        return None
    if any(e is None for e in out):
        return None
    return out


def _staged_file_entries(
    spark: SparkSession, table_dir: str, version: int, stats_cols: list[str] | None
) -> list[dict]:
    """Manifest entries for the files just staged under ``v=N``: relative
    path + row count, plus per-file min/max for each of ``stats_cols``.

    Primary source: the parquet FOOTERS the staging write already
    produced (``_footer_file_entries`` — zero data IO). Fallback: ONE
    Spark job over only the new files (grouped by ``input_file_name`` —
    the incremental cost Delta pays at write time for the same reason)
    whenever any requested stat is not footer-recoverable in exact
    Spark-job parity (float/double stats, INT96 timestamps, truncated
    string bounds …). Either way the entries are what lets readers and
    upserts skip whole files without listing or opening them."""
    vdir = f"{table_dir.rstrip('/')}/v={version}"
    names = {
        info.base_name: int(info.size)
        for info in snaplog.listdir(vdir)
        if info.base_name.endswith(".parquet")
    }
    if not names:
        return []
    footer = _footer_file_entries(table_dir, version, names, stats_cols)
    if footer is not None:
        return footer
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in stats_cols or []:
        aggs.append(F.min(c).alias(f"__min_{c}"))
        aggs.append(F.max(c).alias(f"__max_{c}"))
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}")
        )
    per_file = (
        spark.read.parquet(vdir)
        .groupBy(F.input_file_name().alias("__file"))
        .agg(*aggs)
        .collect()  # bounded: one row per staged FILE (the manifest itself
        # is a driver-side record — KBs per thousand files)
    )
    by_name = {r["__file"].rstrip("/").rsplit("/", 1)[-1]: r for r in per_file}
    entries = []
    for name in sorted(names):
        r = by_name.get(name)
        e: dict = {
            "path": f"v={version}/{name}",
            "rows": int(r["__rows"]) if r else 0,
            "bytes": names[name],
        }
        if stats_cols and r is not None:
            e["stats"] = {
                c: {
                    "min": snaplog.json_safe(r[f"__min_{c}"]),
                    "max": snaplog.json_safe(r[f"__max_{c}"]),
                    "nulls": int(r[f"__nulls_{c}"]),
                }
                for c in stats_cols
            }
        entries.append(e)
    return entries


def _bloom_ctypes(df: DataFrame, cols: list[str]) -> dict[str, str]:
    """Enforce + classify each Bloom column's type: the driver-side probe
    must stringify its literal EXACTLY as the Spark build cast did, which
    only holds for strings and integrals (floats/bools/timestamps
    stringify differently between the engines) — a mismatch would be a
    false-negative prune, i.e. silently wrong reads."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    ctypes: dict[str, str] = {}
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, StringType):
            ctypes[c] = "string"
        elif isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
            ctypes[c] = "integral"
        else:
            raise ValueError(
                f"bloom_cols: column {c!r} has type {dt.simpleString()} — "
                f"Bloom skipping supports string and integral key columns "
                f"(other types stringify differently between the build cast "
                f"and the driver-side probe)"
            )
    return ctypes


def _bloom_file_entries(
    spark: SparkSession,
    table_dir: str,
    version: int,
    cols: list[str],
    m: int,
    h: int,
) -> dict[str, dict]:
    """Per-file Bloom filters for the files just staged under ``v=N``:
    ``{file_name: {col: {m, h, words}}}``.

    Built entirely executor-side: the h bit positions per value are the
    same md5-derived positions ``_bloom_positions`` computes in Python
    (engine-portable on string/integer keys — the cast-to-string must
    agree between Spark and Python, so float keys are not supported),
    distinct (file, position) pairs aggregate per file, and the packing
    into 64-bit words happens inside Catalyst — the driver only ever
    receives the packed filter, m/64 longs per (file, column).

    Cost: one scan of the new files per column. Size: ~m/8 bytes per
    (file, column) in the manifest (JSON-int inflated) — at the default
    16 Kbit that is ~2-5 KB per entry, so bloom_cols shares the
    manifest's stated driver-side bound and is opt-in per table."""
    vdir = f"{table_dir.rstrip('/')}/v={version}"
    df = spark.read.parquet(vdir)
    ctypes = _bloom_ctypes(df, cols)
    # ONE scan covers every bloom column: explode (col, position) pairs,
    # distinct per (file, col, pos), pack per (file, col) executor-side
    pairs = []
    for c in cols:
        for j in range(h):
            p = (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col(c).cast("string"), F.lit(f"|{j}"))),
                        1,
                        13,
                    ),
                    16,
                    10,
                ).cast("long")
                % m
            )
            pairs.append(
                F.when(
                    F.col(c).isNotNull(),
                    F.struct(F.lit(c).alias("c"), p.alias("p")),
                )
            )
    nwords = m // 64
    rows = (
        df.select(
            F.input_file_name().alias("__f"),
            F.explode(F.array_compact(F.array(*pairs))).alias("__e"),
        )
        .select("__f", F.col("__e.c").alias("__c"), F.col("__e.p").alias("__p"))
        .distinct()
        .groupBy("__f", "__c")
        .agg(F.collect_set("__p").alias("__ps"))
        .select(
            "__f",
            "__c",
            F.expr(
                f"transform(sequence(0, {nwords - 1}), w -> "
                f"aggregate(filter(__ps, p -> int(p / 64) = w), 0L, "
                f"(acc, p) -> acc | shiftleft(1L, int(p % 64))))"
            ).alias("__words"),
        )
        .collect()  # bounded: m/64 longs per staged FILE per column
    )
    out: dict[str, dict] = {}
    for r in rows:
        name = r["__f"].rstrip("/").rsplit("/", 1)[-1]
        out.setdefault(name, {})[r["__c"]] = {
            "m": m,
            "h": h,
            "ctype": ctypes[r["__c"]],
            "words": [int(x) for x in r["__words"]],
        }
    return out


def _staged_entries(
    spark: SparkSession,
    table_dir: str,
    version: int,
    stats_cols: list[str] | None,
    bloom_spec: dict | None,
) -> list[dict]:
    """Manifest entries for the files just staged under ``v=N``
    (``_staged_file_entries``) with per-file Bloom entries attached by
    the table's bloom spec (none without one). Carried entries keep the
    blooms they were committed with."""
    entries = _staged_file_entries(spark, table_dir, version, stats_cols)
    if entries and bloom_spec and bloom_spec.get("cols"):
        bl = _bloom_file_entries(
            spark, table_dir, version,
            bloom_spec["cols"], bloom_spec["m"], bloom_spec["h"],
        )
        for e in entries:
            name = e["path"].rsplit("/", 1)[-1]
            if name in bl:
                e["bloom"] = bl[name]
    return entries


def _manifest_schema(manifest: dict) -> T.StructType:
    """The committed read-contract schema as a StructType. Single parse
    point for every consumer — snapshot_read, the keyed rewrite, the
    change feed, delete, optimize."""
    import json

    return T.StructType.fromJson(json.loads(manifest["schema"]))


_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_LISTING_LOCK = threading.Lock()


def _read_files(
    spark: SparkSession, table_dir: str, paths: list[str], schema: T.StructType
) -> DataFrame:
    """The parquet scan of manifest-listed files (entry ``paths``,
    resolved against ``table_dir``) under ``schema``, the read contract:
    files committed before a schema evolution surface NULL for columns
    added later, and no footer-inference pass is paid.

    Spark lists a relation's files when it resolves it, here, and the
    scan reuses that listing. Past ``_LISTING_THRESHOLD`` files (default
    32) it lists them in a distributed job, one task per file, which
    costs far more than listing them on the driver (SCALE.md "Scan
    layer"). The manifest already names every file, so the threshold is
    raised to the file count while this one relation resolves and then
    restored. Raise and restore happen under one lock, so concurrent
    engine reads never restore each other's value, and the session's
    own setting is what it was after every call, a raising one included.
    """
    uris = [snaplog.entry_uri(table_dir, p) for p in paths]
    reader = spark.read.schema(schema)
    with _LISTING_LOCK:
        prior = spark.conf.get(_LISTING_THRESHOLD)
        if len(uris) <= int(prior):
            return reader.parquet(*uris)
        was_set = spark._jsparkSession.sessionState().conf().contains(
            _LISTING_THRESHOLD
        )
        spark.conf.set(_LISTING_THRESHOLD, str(len(uris)))
        try:
            return reader.parquet(*uris)
        finally:
            if was_set:
                spark.conf.set(_LISTING_THRESHOLD, prior)
            else:
                spark.conf.unset(_LISTING_THRESHOLD)


def snapshot_write(
    df: DataFrame,
    table_dir: str,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 16384,
    bloom_hashes: int = 5,
    properties: dict | None = None,
    expected_version: int | None = None,
    retries: int = 0,
    change_files: bool | None = None,
    _op: str = "write",
    _cluster_by: list[str] | None = None,
    _cluster_files: int | None = None,
) -> int:
    """Commit ``df`` as the next table version and return it.

    ``change_files=True`` enables CHANGE DATA FEED materialization for
    the table (Delta's ``delta.enableChangeDataFeed`` trade): every
    rewrite commit — the merge family (``snapshot_upsert`` /
    ``snapshot_apply_cdc`` / ``snapshot_merge``), COW
    ``snapshot_delete``, ``snapshot_restore``, and a full REPLACE via
    ``snapshot_write`` itself — additionally persists its NET row-level
    diff under ``_changes/v=N/`` and records it in the manifest, so the
    ``snapshotfeed`` changeFeed (stream and batch) replays rewrites as
    CDC rows instead of raising: a cdf table's changeFeed NEVER refuses.
    The flag is a table property carried by every subsequent commit;
    ``None`` (default) inherits the current table's flag on a replace,
    ``False`` disables it.

    Every commit record carries an ``op`` label (the Delta
    ``commitInfo.operation`` shape) so history and the ``snapshotfeed``
    streaming source can tell CONTENT-PRESERVING maintenance (optimize /
    restamp) from data changes without guessing structurally. ``_op``,
    ``_cluster_by`` and ``_cluster_files`` are internal plumbing for the
    writers that stage through this function (``snapshot_append``'s
    first commit passes its label and range clustering).

    Concurrency controls (optimistic, Delta-style):

    ``expected_version`` — compare-and-swap for READ-MODIFY-WRITE
    maintainers: the commit succeeds only as version
    ``expected_version + 1``. If any other writer committed after the
    caller read version ``expected_version``, this raises
    ``SnapshotConflictError`` instead of committing a result derived
    from a stale read (the lost-update every external-offset /
    last-writer-wins design permits). The caller re-reads and re-derives.

    ``retries`` — automatic retry-with-next-version for BLIND writers
    whose content does not depend on the previous version (full-replace
    ingest): on a staging/commit race the loser cleans its orphan stage
    and re-claims the new next version, up to ``retries`` times. Mutually
    exclusive with ``expected_version`` (retrying a CAS would silently
    commit the stale derivation it exists to prevent).

    ``properties`` is an arbitrary JSON-safe dict stamped into the commit
    record (the Delta ``commitInfo``/txn shape) and read back via
    ``snapshot_properties``. Because it commits ATOMICALLY WITH the data,
    it is the exactly-once lever for derived tables: a consumer that
    records "this rollup reflects source version N" inside its own
    commit can always resume from the right span after a crash — no
    separate offset store whose update can tear away from the data write
    (``analytics.sync_replica_from_changes`` is the worked example).

    ``bloom_cols`` additionally stores a per-file Bloom filter for each
    listed column (string/integer keys) — the point-lookup skipping
    lever for HASH-DISTRIBUTED keys, whose min/max envelope spans the
    whole domain and prunes nothing. ``snapshot_read(where=[(col, '=',
    v)])`` probes the filters driver-side: a miss proves absence (no
    false negatives — pruning stays exact), a false positive costs one
    extra file read (rate ≈ (1−e^(−h·n/m))^h; the 16 Kbit / 5-hash
    default holds <1% to ~2k distinct keys per file). The spec persists
    in the commit record, and every maintenance path (upsert, CDC apply,
    delete, optimize) rebuilds filters for the files it stages, so
    skipping power survives table maintenance exactly like stats_cols.

    Protocol: (1) CLAIM the staging dir ``v=N`` by atomically creating
    ``v=N/_CLAIM`` (``createNewFile`` — create-no-overwrite); (2) write
    parquet into the claimed dir (append mode, so the claim marker
    survives) and verify ``_SUCCESS``; (3) COMMIT by atomically creating
    the immutable record ``_manifests/N.json``. Readers only follow
    committed records, so a crash at any point before (3) leaves an
    orphan stage readers never saw.

    The commit record carries the version's explicit FILE LIST (relative
    paths + row counts + the dataframe schema), and — when ``stats_cols``
    is given — per-file min/max for those columns. The file list is what
    lets ``snapshot_upsert`` commit a new version that REFERENCES
    untouched files instead of rewriting them (copy-on-write), and the
    stats are what lets ``snapshot_read(where=...)`` and the upsert's
    touched-file selection skip files entirely — at 100 TB the difference
    between a query and a table scan is made at this manifest level,
    before any file is listed or opened (the same job Delta/Iceberg give
    their stats). Cost: one extra Spark job over only the new files.

    Known bound, stated rather than hidden: the manifest is one
    driver-side JSON record — ~100 bytes per file entry, so practical to
    roughly 10⁵ files per version (a ~10 TB version at 128 MB files);
    past that the file list itself needs to become a parquet dataset
    read distributed (Delta's checkpointed _delta_log, Iceberg's
    manifest-list indirection — the same evolution this protocol would
    take).

    Single-writer protocol, cheaply ENFORCED (optimistic concurrency):
    a writer refuses to stage if ``v=N+1`` already exists — two writers
    that both read version N cannot both stage into the same directory
    (one fails fast instead of them overwriting each other mid-write);
    the ones that tie on the exists-check are broken by the atomic _CLAIM
    create, and the ones that somehow both stage are broken by the atomic
    commit create. A leftover dir from a CRASHED writer also trips the
    guard; the remedy is stated in the error (delete the orphan — the
    missing commit record proves it was never committed). True
    multi-writer commit needs a coordination service (what Delta's commit
    coordinator provides), exactly as for any log-structured format."""
    spark = df.sparkSession
    if bloom_cols and (
        bloom_bits < 64 or bloom_bits % 64 or bloom_hashes < 1
    ):
        raise ValueError(
            f"bloom_bits must be a positive multiple of 64 and "
            f"bloom_hashes >= 1 (got {bloom_bits}, {bloom_hashes}) — the "
            f"filter packs into 64-bit words, and a ragged width would "
            f"silently drop the trailing bit range"
        )
    if bloom_cols:
        # fail BEFORE staging on an unsupported key type (the builder
        # re-checks, but by then a claim dir exists)
        _bloom_ctypes(df, list(bloom_cols))
    if expected_version is not None and retries:
        raise ValueError(
            "snapshot_write: expected_version and retries are mutually "
            "exclusive — auto-retrying a CAS commit would re-commit the "
            "stale derivation the CAS exists to reject; re-read and "
            "re-derive in the caller instead"
        )
    bloom_spec = (
        {"cols": list(bloom_cols), "m": int(bloom_bits), "h": int(bloom_hashes)}
        if bloom_cols
        else None
    )
    attempts = 1 + max(0, int(retries))
    for attempt in range(attempts):
        if expected_version is not None:
            cur = snapshot_version(spark, table_dir)
            if cur != expected_version:
                raise SnapshotConflictError(
                    f"snapshot_write: table {table_dir} is at version {cur} "
                    f"but the caller derived its write from version "
                    f"{expected_version} — a concurrent writer committed in "
                    f"between; re-read and re-derive"
                )
        try:
            cur = snapshot_version(spark, table_dir)
            prior_manifest = (
                snaplog.read_manifest(table_dir, cur) if cur >= 1 else {}
            )
            cdf = (
                bool(change_files)
                if change_files is not None
                else bool(prior_manifest.get("cdf"))
            )
            # the CAS pin doubles as the staleness gate
            version, vdir = _stage(
                df, table_dir, "snapshot_write", expected_version,
                _cluster_by, _cluster_files,
            )
            entries = _staged_entries(spark, table_dir, version, stats_cols, bloom_spec)
            changes = None
            if cdf and _op == "write" and cur >= 1:
                # a full REPLACE on a cdf table materializes the
                # NETTED multiset diff of old state vs staged state
                # (old rows leaving emit as deletes, new rows as
                # inserts; identical rows cancel via exceptAll, so a
                # replace that merely re-clusters identical content
                # nets to an empty feed). Columns follow the NEW
                # schema: old rows are read under THEIR OWN manifest
                # schema and projected onto it — added columns
                # NULL-fill, dropped columns leave the comparison,
                # and a retyped column try_casts (a replace may
                # change any type; scanning old files with the new
                # schema would crash the diff). O(old+new) — the
                # honest cost of a replace, paid once at write time.
                old_paths = [x["path"] for x in prior_manifest["files"]]
                if old_paths:
                    prior_schema = _manifest_schema(prior_manifest)
                    prior_names = {f.name for f in prior_schema.fields}
                    old_live = _apply_dv(
                        _read_files(spark, table_dir, old_paths, prior_schema),
                        _dv_read(spark, table_dir, prior_manifest),
                        _dv_deleted(prior_manifest),
                    ).select(
                        [
                            (
                                F.col(f.name).try_cast(f.dataType)
                                if f.name in prior_names
                                else F.lit(None).cast(f.dataType)
                            ).alias(f.name)
                            for f in df.schema.fields
                        ]
                    )
                else:
                    old_live = _empty_frame(spark, df.schema)
                new_rows = spark.read.schema(df.schema).parquet(vdir)
                changes = _materialize_changes(
                    spark, table_dir, version,
                    old_live.exceptAll(new_rows)
                    .withColumn("_change_type", F.lit("delete"))
                    .unionByName(
                        new_rows.exceptAll(old_live)
                        .withColumn("_change_type", F.lit("insert"))
                    ),
                )
            # a full replace derives nothing from its parent record: the
            # feed flag is stated here, and the Bloom spec, deletion
            # vector and txn stamps reset
            return _publish_staged(table_dir, version, snaplog.next_record(
                None, version, _op, entries, properties=properties,
                schema=df.schema.json(), bloom_spec=bloom_spec, cdf=cdf,
                changes=changes,
            ))
        except SnapshotConflictError:
            if attempt + 1 >= attempts or expected_version is not None:
                raise
            import time

            time.sleep(0.05 * (attempt + 1))
    raise AssertionError("unreachable")


def snapshot_append(
    df: DataFrame,
    table_dir: str,
    stats_cols: list[str] | None = None,
    properties: dict | None = None,
    expected_version: int | None = None,
    retries: int = 0,
    evolve_schema: bool = False,
    cluster_by: list[str] | None = None,
    cluster_files: int | None = None,
) -> int:
    """APPEND-ONLY commit: stage ``df``'s rows as new files and commit a
    version that carries every existing file (and the current deletion
    vector) by reference, verbatim. Nothing is rewritten or re-scanned —
    the commit costs O(new rows) regardless of table size, which is the
    ingest shape for event logs and training-data corpora (the
    reference's K1/K2 bulk appends, loader.py:64-116, land here when the
    sink is the lakehouse instead of Postgres). Until now every lakehouse
    write was replace (``snapshot_write``) or keyed merge
    (``snapshot_upsert``/``snapshot_merge``); a plain append needed
    neither keys nor a rewrite and had no API.

    Appends are also the ONLY commit kind the ``snapshotfeed`` streaming
    source tails natively (Delta's exact contract: appended files stream
    as new rows; anything that removes or tombstones rows is a "change
    commit").

    Contract details, all matching the write/upsert family:
    - the batch must match the committed schema; ``evolve_schema=True``
      widens the table with new columns and NULL-fills omitted ones
      (the commit records the merged schema; carried files null-fill
      through the read contract).
    - per-file stats (default: the same columns the current manifest
      tracks) and Bloom filters (the table's spec) are built for the new
      files only, so skipping power is uniform across the table.
    - ``expected_version`` is the usual CAS; ``retries`` auto-retries a
      lost staging/commit race — safe for appends even though they are
      not blind writes, because the staged rows do not depend on the
      version they land on. On a table with NO commit yet the first
      append creates it (one atomic v1 commit).
    - ``cluster_by`` range-clusters THIS batch's files on the given
      columns (into ``cluster_files`` files, default one per shuffle
      partition): stats skipping is only as good as the physical
      clustering under it, and an unclustered append gives every new
      file a full-range envelope that later upserts/reads can never
      prune. Clustering is per batch — cheap (one range shuffle over
      the batch, never the table) and exactly what a time-keyed ingest
      needs, since batches arrive roughly time-ordered anyway.
    """
    spark = df.sparkSession
    if expected_version is not None and retries:
        raise ValueError(
            "snapshot_append: expected_version and retries are mutually "
            "exclusive — a CAS loser must re-read before re-deriving"
        )
    attempts = 1 + max(0, int(retries))
    for attempt in range(attempts):
        if expected_version is not None:
            cur0 = snapshot_version(spark, table_dir)
            if cur0 != expected_version:
                raise SnapshotConflictError(
                    f"snapshot_append: table {table_dir} is at version "
                    f"{cur0}, caller expected {expected_version}"
                )
        try:
            cur = snapshot_version(spark, table_dir)
            if cur < 1:
                # first commit IS table creation (structurally a pure
                # append); no retries inside — a lost race here must fall
                # through to the APPEND path, not a full replace. The CAS
                # pin is MANDATORY: with expected_version=None a writer
                # that fully commits v1 between our version read and
                # snapshot_write's staging would be silently ERASED by
                # this full replace landing as v2. Pinning 0 makes
                # snapshot_write's own CAS/staged-version check raise a
                # retryable SnapshotConflictError instead, and the retry
                # re-reads cur>=1 and takes the append path.
                return snapshot_write(
                    df,
                    table_dir,
                    stats_cols=stats_cols,
                    properties=properties,
                    expected_version=0 if expected_version is None else expected_version,
                    _op="append",
                    _cluster_by=cluster_by,
                    _cluster_files=cluster_files,
                )
            manifest = snaplog.read_manifest(table_dir, cur)
            entries = manifest["files"]
            tschema = _manifest_schema(manifest)
            table_cols = [f.name for f in tschema.fields]
            extra = [c for c in df.columns if c not in table_cols]
            missing = [c for c in table_cols if c not in df.columns]
            if (extra or missing) and not evolve_schema:
                raise ValueError(
                    f"snapshot_append: batch columns {sorted(df.columns)} "
                    f"do not match the table schema {sorted(table_cols)} "
                    f"(extra {extra}, missing {missing}) — pass "
                    f"evolve_schema=True to widen / null-fill"
                )
            # name-only matching would let a type-drifted batch commit
            # under the old manifest schema and poison every later read
            # ("Parquet column cannot be converted") — reject it here
            batch_types = dict(df.dtypes)
            drift = {
                f.name: (f.dataType.simpleString(), batch_types[f.name])
                for f in tschema.fields
                if f.name in batch_types
                and f.dataType.simpleString() != batch_types[f.name]
            }
            if drift:
                raise ValueError(
                    f"snapshot_append: batch column types diverge from "
                    f"the table schema (column: (table, batch)): {drift} "
                    f"— cast the batch before appending"
                )
            appended = df
            for f in tschema.fields:
                if f.name in missing:
                    appended = appended.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
            appended = appended.select(table_cols + extra)
            # unconditional staleness gate (CAS subsumed): the carried
            # file list came from `cur`'s manifest — a concurrent commit
            # in between would be erased by committing it
            version, _ = _stage(
                appended, table_dir, "snapshot_append", cur,
                cluster_by, cluster_files,
            )
            new_entries = _staged_entries(
                spark, table_dir, version,
                stats_cols if stats_cols is not None else snaplog.tracked_stats(entries),
                manifest.get("bloom_spec"),
            )
            # evolved columns are NULLABLE by definition — every
            # pre-evolution row reads NULL for them, whatever the
            # batch's own nullability was (F.lit() is non-null)
            widened = T.StructType(
                [
                    T.StructField(f.name, f.dataType, True, f.metadata)
                    if f.name in extra
                    else f
                    for f in appended.schema.fields
                ]
            )
            # chronological: carried files first, this batch's last; the
            # carried files keep their deletion-vector entries, the new
            # ones have none by construction
            return _publish_staged(table_dir, version, snaplog.next_record(
                manifest, version, "append", entries + new_entries,
                properties=properties, staged_schema=widened.json(),
            ))
        except SnapshotConflictError:
            if attempt + 1 >= attempts or expected_version is not None:
                raise
            import time

            time.sleep(0.05 * (attempt + 1))
    raise AssertionError("unreachable")


def snapshot_properties(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> dict:
    """The ``properties`` dict a version was committed with (empty dict
    if none) — the read side of the exactly-once consumer pattern."""
    v = version if version is not None else snapshot_version(spark, table_dir)
    if v < 1:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    return snaplog.read_manifest(table_dir, v).get("properties") or {}


_WHERE_OPS = ("=", "<", "<=", ">", ">=", "in", "is_null", "is_not_null")


def _entry_all_match(entry: dict, where: list[tuple]) -> bool:
    """True when the file's stats PROVE every live row satisfies the
    conjunction — the inverse of ``_entry_prunable``: then the file's
    manifest row count IS its contribution to a filtered COUNT, no scan.
    NULL rows fail every comparison, so any nulls in a compared column
    disprove all-match. Missing stats, unknown ops, or incomparable
    types never prove (safe fallback: the file gets scanned)."""
    stats = entry.get("stats") or {}
    rows = entry.get("rows", 0)
    if rows <= 0:
        return False
    for col, op, val in where:
        s = stats.get(col)
        if s is None:
            return False
        mn, mx, nulls = s.get("min"), s.get("max"), s.get("nulls")
        if op == "is_null":
            if not (nulls is not None and nulls == rows):
                return False
            continue
        if op == "is_not_null":
            if nulls != 0:
                return False
            continue
        if op == "in":
            # provable only in the constant-file case: every row equals
            # the single enveloped value and that value is in the list
            if (
                nulls == 0
                and isinstance(val, (list, tuple))
                and any(
                    v is not None
                    and _stats_comparable(mn, snaplog.json_safe(v))
                    and mn == mx == snaplog.json_safe(v)
                    for v in val
                )
            ):
                continue
            return False
        if (
            nulls != 0
            or mn is None
            or mx is None
            or not _stats_comparable(mn, val)
            or not _stats_comparable(mx, val)
        ):
            return False
        if op == "=" and not (mn == val and mx == val):
            return False
        if op == "<" and not (mx < val):
            return False
        if op == "<=" and not (mx <= val):
            return False
        if op == ">" and not (mn > val):
            return False
        if op == ">=" and not (mn >= val):
            return False
        if op not in _WHERE_OPS:
            return False
    return True


_TS_OFFSET_SUFFIX = None  # compiled lazily (module import stays light)


def _tz_suffix_mixed(a: str, b: str) -> bool:
    """True when exactly ONE of two strings carries an ISO-8601 UTC-offset
    suffix (``Z`` / ``±HH:MM``): an offset-bearing timestamp string orders
    lexicographically ABOVE its naive twin at the same instant
    (``'…+00:00' > '…'``), so pruning on a mixed pair would silently drop
    matching files at equality boundaries. Mixed pairs are simply not
    comparable — less pruning, never a wrong result."""
    global _TS_OFFSET_SUFFIX
    if _TS_OFFSET_SUFFIX is None:
        import re as _re

        _TS_OFFSET_SUFFIX = _re.compile(r"(?:Z|[+-]\d{2}:\d{2})$")
    return bool(_TS_OFFSET_SUFFIX.search(a)) != bool(_TS_OFFSET_SUFFIX.search(b))


def _stats_comparable(a, b) -> bool:
    """Only prune when the stats value and the literal share a total
    order we can evaluate driver-side: both numeric (bool excluded —
    Python would happily order True against 1) or both strings — and for
    strings, both in the same timestamp frame (naive vs offset-suffixed
    ISO strings do NOT order consistently; see ``_tz_suffix_mixed``)."""
    num = (int, float)
    if isinstance(a, bool) or isinstance(b, bool):
        return False
    if isinstance(a, num) and isinstance(b, num):
        return True
    if isinstance(a, str) and isinstance(b, str):
        return not _tz_suffix_mixed(a, b)
    return False


def _bloom_positions(value, m: int, h: int) -> list[int]:
    """The ``h`` bit positions a value sets in an ``m``-bit file Bloom
    filter: ``md5(str(value) + '|' + str(j))`` first 13 hex chars mod m —
    deliberately derivable in pure Python AND pure Catalyst (conv/
    substring/md5), so the filter is built executor-side by Spark and
    probed driver-side with no JVM round-trip."""
    import hashlib

    return [
        int(hashlib.md5(f"{value}|{j}".encode()).hexdigest()[:13], 16) % m
        for j in range(h)
    ]


def _bloom_probe_safe(bloom: dict, value) -> bool:
    """Only probe when the Python literal's stringification provably
    matches the Spark-side CAST(col AS STRING) the filter was built
    from — the Bloom analogue of ``_stats_comparable``. The spec records
    the column's type class at build time: ``string`` probes accept str
    literals only, ``integral`` probes accept non-bool ints only. A
    cross-typed literal (float vs int, bool, int against a string
    column) silently stringifies differently on the two sides, and a
    mismatched probe is a FALSE NEGATIVE — wrong empty reads — so those
    fall through to the stats/residual path instead."""
    ctype = bloom.get("ctype")
    if ctype == "string":
        return isinstance(value, str)
    if ctype == "integral":
        return isinstance(value, int) and not isinstance(value, bool)
    return False  # unknown/legacy spec: never prune on it


def _bloom_might_contain(bloom: dict, value) -> bool:
    """Driver-side probe of a manifest Bloom entry (``words`` are the
    filter's 64-bit words as Spark signed longs; Python's arbitrary-
    precision two's complement makes ``(w >> k) & 1`` read the raw bit
    correctly for negative words)."""
    words, m, h = bloom["words"], bloom["m"], bloom["h"]
    for p in _bloom_positions(value, m, h):
        if not (words[p // 64] >> (p % 64)) & 1:
            return False
    return True


def _entry_prunable(entry: dict, where: list[tuple]) -> bool:
    """True when the file's [min,max] envelope PROVES no row can satisfy
    the conjunction. All-null stats (min and max both null) prune under
    any comparison — SQL comparisons against NULL are never true. Missing
    stats, unknown ops, or incomparable types never prune (safe
    fallback: the residual filter still runs on every surviving row).

    Point predicates additionally probe the file's Bloom filter when the
    manifest carries one for the column (``snapshot_write(bloom_cols=…)``)
    — the skipping lever for hash-distributed keys, whose min/max
    envelope spans everything and prunes nothing. A Bloom miss is a
    PROOF of absence (no false negatives), so pruning stays exact; a
    false positive merely reads one extra file."""
    blooms = entry.get("bloom") or {}
    stats = entry.get("stats") or {}
    for col, op, raw in where:
        if op == "=" and col in blooms and raw is not None:
            if _bloom_probe_safe(blooms[col], raw) and not _bloom_might_contain(
                blooms[col], raw
            ):
                return True
        if op == "in":
            # prunable only when EVERY element is provably absent from the
            # file — a Bloom miss is a proof, landing outside the [min,max]
            # envelope is a proof; one possible element keeps the file.
            # NULL elements match no row (SQL IN), so they never block the
            # proof. The multi-key point-lookup skipping lever: read K keys
            # from a hash-distributed table and open only files whose Bloom
            # might hold one.
            if not isinstance(raw, (list, tuple)) or not raw:
                continue  # malformed/empty: the exact filter decides
            bl = blooms.get(col)
            s_in = stats.get(col)
            mn_i = s_in.get("min") if s_in else None
            mx_i = s_in.get("max") if s_in else None
            if s_in and mn_i is None and mx_i is None and entry.get("rows", 0) > 0:
                return True  # all-null column: IN never evaluates true

            def _absent(v) -> bool:
                if bl is not None and _bloom_probe_safe(
                    bl, v
                ) and not _bloom_might_contain(bl, v):
                    return True
                sv = snaplog.json_safe(v)
                return (
                    mn_i is not None
                    and mx_i is not None
                    and _stats_comparable(mn_i, sv)
                    and _stats_comparable(mx_i, sv)
                    and (sv < mn_i or sv > mx_i)
                )

            if all(v is None or _absent(v) for v in raw):
                return True
            continue
        s = stats.get(col)
        if s is None or op not in _WHERE_OPS:
            continue
        # stats were stored through snaplog.json_safe (timestamps/dates as
        # ISO-8601 strings whose lexicographic order IS chronological);
        # a datetime/date literal must compare in the same canonical form
        val = snaplog.json_safe(raw)
        mn, mx = s.get("min"), s.get("max")
        nulls = s.get("nulls")  # absent on pre-r9 manifests: never prunes
        if op == "is_null":
            if nulls == 0 and entry.get("rows", 0) > 0:
                return True
            continue
        if op == "is_not_null":
            if nulls is not None and nulls == entry.get("rows", -1) and nulls > 0:
                return True
            continue
        if mn is None and mx is None and entry.get("rows", 0) > 0:
            return True
        # BOTH bounds must be comparable with the literal: one writer's
        # canonicalization keeps min/max in one form today, but the
        # prune-proof must be locally sound against any future mixed-form
        # manifest (a tz-suffixed max beside a naive min would otherwise
        # be compared lexicographically-wrong below)
        if (
            mn is None
            or mx is None
            or not _stats_comparable(mn, val)
            or not _stats_comparable(mx, val)
        ):
            continue
        if op == "=" and (val < mn or val > mx):
            return True
        if op == "<" and not (mn < val):
            return True
        if op == "<=" and not (mn <= val):
            return True
        if op == ">" and not (mx > val):
            return True
        if op == ">=" and not (mx >= val):
            return True
    return False


def _where_expr(where: list[tuple], qualify: str | None = None):
    """The same conjunction as a real Column predicate — applied to the
    surviving files so the result is exact regardless of how much the
    manifest level could prune (pruning is a superset guarantee, the
    filter is the semantics). ``qualify`` prefixes column references
    with a dataframe alias (``"t"`` → ``t.col``) so the predicate
    resolves unambiguously inside a join."""
    import operator as _op

    def _c(col: str):
        return F.col(f"{qualify}.{col}") if qualify else F.col(col)

    ops = {"=": _op.eq, "<": _op.lt, "<=": _op.le, ">": _op.gt, ">=": _op.ge}
    expr = F.lit(True)
    for col, op, val in where:
        if op == "is_null":
            expr = expr & _c(col).isNull()
        elif op == "is_not_null":
            expr = expr & _c(col).isNotNull()
        elif op == "in":
            if not isinstance(val, (list, tuple)) or not val:
                raise ValueError(
                    f"snapshot_read: where op 'in' needs a non-empty list "
                    f"of values (got {val!r})"
                )
            expr = expr & _c(col).isin(list(val))
        elif op not in ops:
            raise ValueError(f"snapshot_read: unsupported where op {op!r} (use one of {_WHERE_OPS})")
        else:
            expr = expr & ops[op](_c(col), F.lit(val))
    return expr


# Deletion vectors (merge-on-read deletes, the Delta DV shape): a version
# may carry a small (path, pos) parquet dataset of DELETED row positions —
# ``path`` is the data file's table-relative path ("v=K/part-….parquet"),
# ``pos`` its parquet row index (``_metadata.row_index``). A DV delete
# commits in O(matching rows) without rewriting ANY data file — the lever
# for scattered right-to-erasure deletes on a 100 TB table, where
# copy-on-write would rewrite a 128 MB file per tombstoned row. Readers
# subtract positions with one broadcast anti-join; every physical rewrite
# (optimize, upsert-touched files) PURGES its files' entries, so
# DVs never accumulate past maintenance. Mass deletes should stay
# copy-on-write (mode="cow"): a DV grows with the deleted-row count.
_DV_RELPATH_RE = r"(v=\d+/[^/]+)$"


def _dv_deleted(manifest: dict) -> int | None:
    """The manifest's total deleted-position count (None when the version
    carries no deletion vector) — the broadcast-gate input."""
    dv = manifest.get("dv")
    return dv.get("deleted") if dv else None


_DV_SCHEMA = T.StructType(
    [T.StructField("path", T.StringType()), T.StructField("pos", T.LongType())]
)


def _dv_read(spark: SparkSession, table_dir: str, manifest: dict) -> DataFrame | None:
    """The (path, pos) deleted-positions dataset of a committed version,
    or None when the version carries no deletion vector."""
    dv = manifest.get("dv")
    if not dv:
        return None
    return spark.read.schema(_DV_SCHEMA).parquet(
        snaplog.entry_uri(table_dir, dv["dir"])
    )


# Broadcasting the deletion vector is right only while it is small (the
# scattered right-to-erasure shape). A mass DV delete makes the position
# table a real dataset that grows with the deleted-row count; forcing it
# through a broadcast would ship every position to every task and OOM the
# driver/executors at exactly the scale merge-on-read targets. The manifest
# carries the exact total (``dv.deleted``), so readers gate on it: at or
# below this many positions the DV broadcasts, above it the subtraction
# runs as a plain (shuffled) anti-join. Tests may lower this to force the
# large path on small fixtures.
DV_BROADCAST_MAX_POSITIONS = 1_000_000


def _dv_side(dvdf: DataFrame, deleted: int | None) -> DataFrame:
    """The DV join side under the broadcast gate: ``deleted`` is the
    manifest's position count (None = unknown → broadcast, the pre-gate
    behavior every in-package caller avoids by passing the manifest
    total)."""
    dv = dvdf.select(F.col("path").alias("__dv_path"), F.col("pos").alias("__dv_pos"))
    if deleted is not None and deleted > DV_BROADCAST_MAX_POSITIONS:
        return dv
    return F.broadcast(dv)


def _apply_dv(
    df: DataFrame, dvdf: DataFrame | None, deleted: int | None = None
) -> DataFrame:
    """Subtract deleted positions from a parquet scan: one anti-join on
    (relative path, row index) — broadcast while the DV is small, plain
    shuffle above ``DV_BROADCAST_MAX_POSITIONS`` (pass the manifest's
    ``dv.deleted`` as ``deleted``). The scan must come straight from
    ``spark.read.parquet`` so ``_metadata`` is still addressable."""
    if dvdf is None:
        return df
    marked = df.withColumn(
        "__dv_path", F.regexp_extract(F.col("_metadata.file_path"), _DV_RELPATH_RE, 1)
    ).withColumn("__dv_pos", F.col("_metadata.row_index"))
    return marked.join(
        _dv_side(dvdf, deleted),
        ["__dv_path", "__dv_pos"],
        "left_anti",
    ).drop("__dv_path", "__dv_pos")


def _write_dv(
    spark: SparkSession, table_dir: str, version: int, dvdf: DataFrame | None
) -> dict | None:
    """Persist a deletion-vector dataset under the (already-claimed)
    ``v=N/_dv`` and return its manifest block — per-file deleted counts
    (bounded by the FILE count, the same driver-state bound as the file
    list itself) plus the total. None/empty → no block."""
    if dvdf is None:
        return None
    counts = {
        r["path"]: r["cnt"]
        for r in dvdf.groupBy("path").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    if not counts:
        return None
    rel = f"v={version}/_dv"
    dvdf.coalesce(1).write.mode("append").parquet(f"{table_dir.rstrip('/')}/{rel}")
    return {"dir": rel, "files": counts, "deleted": int(sum(counts.values()))}


def _carried_dv(
    spark: SparkSession, table_dir: str, version: int,
    old_dv: DataFrame | None, carried: list[dict],
) -> dict | None:
    """The deletion-vector block of a rewrite commit: rewritten files
    dropped their deleted rows physically, so only the CARRIED files'
    entries survive. None when nothing survives."""
    if old_dv is None:
        return None
    keys = sorted({e["path"] for e in carried})
    return _write_dv(
        spark, table_dir, version,
        old_dv.where(F.col("path").isin(keys)) if keys else None,
    )


def snapshot_read(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    where: list[tuple] | None = None,
    as_of_ts: float | None = None,
) -> DataFrame:
    """Read the latest committed snapshot, or time-travel to ``version``
    (or to the version committed at-or-before unix time ``as_of_ts`` —
    Delta's TIMESTAMP AS OF; mutually exclusive with ``version``).

    ``where`` is a conjunction of ``(column, op, literal)`` triples
    (ops ``= < <= > >= in is_null is_not_null``; ``in`` takes a non-empty
    list and prunes a file only when EVERY element is provably absent —
    Bloom miss or outside the envelope — the multi-key point-lookup
    skipping lever). It is applied twice, at two different costs:
    once DRIVER-SIDE against the manifest's per-file min/max — files whose
    envelope cannot contain a match are never listed, opened, or scanned
    (manifest-level data skipping, the 100 TB lever) — and once as a real
    pushed-down filter on the surviving files, so the result is exactly
    the filtered table even when stats are absent. Date/timestamp columns
    store ISO-8601 string stats; pass the literal in the same form."""
    from pyspark.errors import AnalysisException

    if as_of_ts is not None:
        if version is not None:
            raise ValueError("snapshot_read: pass version OR as_of_ts, not both")
        version = snapshot_version_asof(spark, table_dir, as_of_ts)
    v = version if version is not None else snapshot_version(spark, table_dir)
    if v < 1:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    manifest = snaplog.read_manifest(table_dir, v)
    entries = manifest["files"]
    if where:
        entries = [e for e in entries if not _entry_prunable(e, where)]
    if not entries:
        empty = _empty_frame(spark, _manifest_schema(manifest))
        return empty.where(_where_expr(where)) if where else empty
    try:
        df = _read_files(
            spark, table_dir, [e["path"] for e in entries], _manifest_schema(manifest)
        )
    except AnalysisException as e:
        raise FileNotFoundError(
            f"snapshot version {v} in {table_dir} references missing data "
            f"files (vacuumed?): {e}"
        ) from e
    df = _apply_dv(df, _dv_read(spark, table_dir, manifest), _dv_deleted(manifest))
    return df.where(_where_expr(where)) if where else df


def snapshot_upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key: str | list[str],
    stats_cols: list[str] | None = None,
    cluster_files: int | None = None,
    merge_mode: str = "replace",
    evolve_schema: bool = False,
    properties: dict | None = None,
    expected_version: int | None = None,
) -> int:
    """Copy-on-write last-write-wins upsert committed as a new version.
    ``properties`` / ``expected_version`` behave as on ``snapshot_write``
    (exactly-once stamp committed atomically with the data; CAS against
    the version the batch was derived from).

    ``evolve_schema=True`` accepts a batch whose columns differ from the
    committed schema: new columns are ADDED to the table (rows in carried
    files read them as NULL — the manifest schema is the read contract,
    so old files are never rewritten), and columns the batch omits are
    null-filled on the batch side. Without it a column mismatch raises —
    a typo'd batch must never silently drop a table column.

    ``merge_mode="replace"`` (default) replaces the whole matched row —
    the reference's K4 shape. ``"coalesce"`` merges column-wise: a NULL
    in the update keeps the stored value (K5, ``COALESCE(EXCLUDED.c,
    t.c)`` — the partial-update semantics the reference's lap merge
    uses).

    The upsert is ``snapshot_merge`` with its default clauses (matched
    rows updated, unmatched rows inserted; ``coalesce`` updates with
    ``coalesce(s.c, t.c)``), so it has MERGE's cost model: files whose
    ``key`` min/max envelope cannot contain any update key are CARRIED
    into the new version's manifest by reference — their bytes are never
    read, rewritten, or moved, and their stats entries come along
    verbatim. Only files that might hold a matching key are read, joined
    with the updates, and re-staged. On a 100 TB table a keyed CDC batch
    therefore costs O(touched files + updates), not O(table).

    Touched-file selection is itself a Spark job — the (KB-scale) manifest
    envelope table broadcast against the DISTINCT update keys — so update
    batches of any size never round-trip through the driver.

    Requires the current version to carry ``key`` stats (write with
    ``stats_cols=[key, ...]``); raises otherwise instead of silently
    degrading to a full rewrite. Update keys must be unique and non-null
    (last-write-wins needs an order *within* the batch that the caller
    must resolve first — ``merge.cdc_apply`` is the changelog-folding
    twin). ``stats_cols`` defaults to the columns the current manifest
    tracks, so skipping power survives round after round of upserts.

    ``key`` may be a LIST of columns (composite key): the touched-file
    envelope intersects every key column's [min,max] (per-column
    conjunction — the multi-column pruning Delta/Iceberg stats give),
    uniqueness/non-null applies to the tuple, and clustering ranges over
    the columns in order. Everything below reads "key" as "key tuple".

    ``cluster_files`` range-partitions the staged (rewritten) rows by
    ``key`` into that many files. Without it the staged files take the
    join's output partitioning, so a file's key envelope may span the
    whole touched range. Min/max skipping is only as good as the
    physical clustering under it (the reason Delta/Iceberg pair stats
    with clustering); any table maintained by repeated upserts should
    cluster."""
    if merge_mode not in ("replace", "coalesce"):
        raise ValueError(f"snapshot_upsert: unknown merge_mode {merge_mode!r}")
    update_set = (
        {c: f"coalesce(s.`{c}`, t.`{c}`)" for c in updates.columns}
        if merge_mode == "coalesce"
        else None
    )
    return _keyed_rewrite(
        spark, table_dir, updates, key, "snapshot_upsert", "upsert",
        update_set=update_set, exact_columns=True, stats_cols=stats_cols,
        cluster_files=cluster_files, evolve_schema=evolve_schema,
        properties=properties, expected_version=expected_version,
    )[0]


def snapshot_apply_cdc(
    spark: SparkSession,
    table_dir: str,
    changes: DataFrame,
    key: str | list[str],
    op_col: str = "op",
    delete_ops: tuple[str, ...] = ("D", "d", "delete"),
    stats_cols: list[str] | None = None,
    cluster_files: int | None = None,
    evolve_schema: bool = False,
    properties: dict | None = None,
    expected_version: int | None = None,
) -> int:
    """Apply a FOLDED changelog (one row per key: its final upsert state
    or a delete tombstone) to the table in ONE copy-on-write commit —
    the Debezium→lakehouse shape. Rows whose ``op_col`` is in
    ``delete_ops`` remove their key; every other row upserts
    last-write-wins (the op column itself is not stored). Folding a raw
    I/U/D log down to one row per key is the caller's step —
    ``merge.cdc_apply`` for batch logs; this function then applies upserts
    AND deletes against one shared touched-file set, so a mixed batch
    still costs O(touched files + batch), never two table passes.

    It runs ``snapshot_merge``'s plan with the CDC clause set: a matched
    tombstone deletes and any other matched row updates; an unmatched
    tombstone is skipped and any other unmatched row inserts. A batch
    that changes no row (say, tombstones of keys the table does not
    hold) commits nothing and returns the current version."""
    # NULL op must not make a row vanish from BOTH sides (isin is NULL on
    # NULL input): anything not provably a delete is an upsert
    is_delete = F.coalesce(F.col(op_col).isin(*delete_ops), F.lit(False))
    return _keyed_rewrite(
        spark, table_dir, changes.withColumn(op_col, is_delete), key,
        "snapshot_apply_cdc", "cdc", delete_col=op_col, exact_columns=True,
        stats_cols=stats_cols, cluster_files=cluster_files,
        evolve_schema=evolve_schema, properties=properties,
        expected_version=expected_version,
    )[0]


def snapshot_merge(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key: str | list[str],
    when_matched: str | None = "update",
    matched_condition: str | None = None,
    update_set: dict[str, str] | None = None,
    when_not_matched: str | None = "insert",
    not_matched_condition: str | None = None,
    when_not_matched_by_source: str | None = None,
    not_matched_by_source_condition: str | list[tuple] | None = None,
    stats_cols: list[str] | None = None,
    cluster_files: int | None = None,
    properties: dict | None = None,
    expected_version: int | None = None,
    evolve_schema: bool = False,
) -> tuple[int, dict]:
    """Full tri-clause MERGE INTO (the Delta/ANSI shape), one
    copy-on-write commit; returns ``(version, metrics)`` with metrics
    ``{"updated", "deleted", "inserted", "copied"}``.

    ``evolve_schema=True`` accepts source columns the table lacks
    (Delta's ``withSchemaEvolution``): they are ADDED to the committed
    schema — rows in carried files read them as NULL through the
    manifest read contract, no carried file is rewritten — and flow into
    inserted/updated rows; without it an extra source column raises.

    Clauses (each optional, each with an optional SQL condition over the
    aliases ``s`` = source row, ``t`` = target row):

    - ``when_matched="update"`` rewrites the matched target row.
      ``update_set`` maps column → SQL expression (``{"val": "t.val +
      s.delta"}``); unmentioned columns keep their target value. Default
      (None) = replace every column from the source (``UPDATE SET *``).
      ``when_matched="delete"`` removes the matched row instead
      (condition-gated, like ``WHEN MATCHED AND cond THEN DELETE``);
      ``None`` carries matched rows unchanged.
    - ``when_not_matched="insert"`` inserts source rows with no match
      (``INSERT *``; table columns the source lacks are null-filled).
    - ``when_not_matched_by_source="delete"`` removes target rows with
      no source match — the full-sync clause (``WHEN NOT MATCHED BY
      SOURCE THEN DELETE``). With a free-form SQL condition (or none)
      this clause forces EVERY data file into the rewrite (any file may
      hold an unmatched row); without the clause the merge keeps the
      upsert cost model — only envelope-touched files rewrite,
      everything else carries by reference, O(touched files + source).
      Pass ``not_matched_by_source_condition`` as WHERE-TRIPLES (the
      ``snapshot_read(where=...)`` format, e.g. ``[("ts", "<",
      cutoff)]``) and the clause is additionally PRUNED at the manifest
      level: files whose stats envelope proves no row satisfies the
      condition are carried, not rewritten — the "delete stale rows not
      in today's feed" pattern then costs O(stale files + touched
      files), not O(table).

    ``key`` may be a LIST of columns (composite equality merge — ``ON
    t.k1 = s.k1 AND t.k2 = s.k2``): envelope pruning intersects every
    key column's [min,max], and the cardinality rule applies to the
    tuple.

    This is the one keyed rewrite (``_keyed_rewrite``); ``snapshot_upsert``
    and ``snapshot_apply_cdc`` are clause sets over it. A merge that
    updates, deletes and inserts nothing commits nothing. Duplicate or
    NULL source keys raise (a target row must match at most one source
    row — the ANSI MERGE cardinality rule).

    Re-expresses (and generalizes) the reference's ON CONFLICT upsert
    loaders (reference loader.py:165-193, supabase_loader.py:140-172) as
    a declarative lakehouse commit."""
    if when_matched not in ("update", "delete", None):
        raise ValueError(f"snapshot_merge: when_matched={when_matched!r}")
    if when_not_matched not in ("insert", None):
        raise ValueError(f"snapshot_merge: when_not_matched={when_not_matched!r}")
    if when_not_matched_by_source not in ("delete", None):
        raise ValueError(
            f"snapshot_merge: when_not_matched_by_source="
            f"{when_not_matched_by_source!r}"
        )
    return _keyed_rewrite(
        spark, table_dir, source, key, "snapshot_merge", "merge",
        when_matched=when_matched, matched_condition=matched_condition,
        update_set=update_set, when_not_matched=when_not_matched,
        not_matched_condition=not_matched_condition,
        when_not_matched_by_source=when_not_matched_by_source,
        not_matched_by_source_condition=not_matched_by_source_condition,
        stats_cols=stats_cols, cluster_files=cluster_files,
        properties=properties, expected_version=expected_version,
        evolve_schema=evolve_schema,
    )


def _keyed_rewrite(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key: str | list[str],
    what: str,
    op: str,
    *,
    when_matched: str | None = "update",
    matched_condition: str | None = None,
    update_set: dict[str, str] | None = None,
    when_not_matched: str | None = "insert",
    not_matched_condition: str | None = None,
    when_not_matched_by_source: str | None = None,
    not_matched_by_source_condition: str | list[tuple] | None = None,
    delete_col: str | None = None,
    exact_columns: bool = False,
    stats_cols: list[str] | None = None,
    cluster_files: int | None = None,
    properties: dict | None = None,
    expected_version: int | None = None,
    evolve_schema: bool = False,
) -> tuple[int, dict]:
    """The one keyed copy-on-write rewrite of the merge family, with
    ``snapshot_merge``'s clauses (see there), committed under the op
    label ``op`` (history and the snapshotfeed change feed read it) and
    raising as ``what``; returns ``(version, metrics)``. The plan: one
    probe job (source-key cardinality and the envelope-touched files),
    the touched files' live rows (deletion vectors applied — DV'd rows
    can neither match nor resurrect), ONE full-outer join with the
    source tagged per row by clause outcome, the outcome counts observed
    inside the staging write (no second pass), staged entries, the
    carried files' DV entries, the change files on a ``cdf`` table, and
    the commit. A call whose probe proves it can change nothing (no
    touched file, no by-source clause, no row that may insert) stops
    there; one whose outcome updates, deletes and inserts nothing
    removes its stage. Both return the current version.

    ``delete_col`` (CDC apply) names a boolean source column that is
    not stored: a matched row where it is true is deleted and an
    unmatched one is skipped, before the other clauses apply.
    ``exact_columns`` (upsert, CDC apply) also refuses a source that
    omits a table column unless ``evolve_schema``."""
    from pyspark.sql import Observation

    keys = [key] if isinstance(key, str) else list(key)
    current = snapshot_version(spark, table_dir)
    if current < 1:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    if expected_version is not None and current != expected_version:
        raise SnapshotConflictError(
            f"{what}: table {table_dir} is at version {current} but the "
            f"change batch was derived from version {expected_version} — "
            f"a concurrent writer committed in between; re-read and re-derive"
        )
    manifest = snaplog.read_manifest(table_dir, current)
    entries = manifest["files"]
    if any(
        "stats" not in e or any(k not in e["stats"] for k in keys)
        for e in entries
        if e.get("rows", 0) > 0
    ):
        raise ValueError(
            f"{what} needs per-file stats for {keys!r} in the current "
            f"manifest — rewrite the table once with "
            f"snapshot_write(df, table_dir, stats_cols={keys!r} + ...)"
        )
    if stats_cols is None:
        stats_cols = snaplog.tracked_stats(entries) or list(keys)
    # column reconciliation against the committed read contract: extra
    # source columns EVOLVE the schema (carried files read them as NULL)
    # only under evolve_schema; omitted ones are null-filled (with
    # exact_columns, only under evolve_schema too)
    tschema = _manifest_schema(manifest)
    cols = [f.name for f in tschema.fields]
    batch_cols = [c for c in source.columns if c != delete_col]
    extra = [c for c in batch_cols if c not in cols]
    missing = [c for c in cols if c not in batch_cols]
    if (
        any(k not in batch_cols for k in keys)
        or (extra and not evolve_schema)
        or (missing and exact_columns and not evolve_schema)
    ):
        raise ValueError(
            f"{what}: source columns {sorted(batch_cols)} must include "
            f"{keys!r} and be a subset of the table schema {sorted(cols)}"
            f"{', covering it' if exact_columns else ''} (extra: {extra}, "
            f"missing: {missing}) — pass evolve_schema=True to add new "
            f"columns / null-fill omitted ones"
        )
    cols = cols + extra

    nbs_triples = (
        not_matched_by_source_condition
        if isinstance(not_matched_by_source_condition, list)
        else None
    )
    touched, may_insert = _probe_merge_batch(
        spark, entries, keys, source, what, delete_col
    )
    if not (
        touched
        or when_not_matched_by_source
        or (when_not_matched == "insert" and may_insert)
    ):
        # no file can hold a source key and no source row can insert:
        # the probe alone proves the rewrite changes nothing
        return current, dict.fromkeys(("updated", "deleted", "inserted", "copied"), 0)
    if when_not_matched_by_source:
        if nbs_triples is not None:
            # a file whose envelope PROVES no row satisfies the by-source
            # condition cannot lose a row to this clause: it joins the
            # rewrite only if the source's keys touch it
            touched |= {
                e["path"] for e in entries if not _entry_prunable(e, nbs_triples)
            }
        else:
            # free-form SQL condition: any file may hold an unmatched row
            touched = {e["path"] for e in entries}
    carried = [e for e in entries if e["path"] not in touched]

    src = source
    for f in tschema.fields:
        if f.name not in batch_cols:
            src = src.withColumn(f.name, F.lit(None).cast(f.dataType))
    src = src.select(cols + ([delete_col] if delete_col else []))
    old_dv = _dv_read(spark, table_dir, manifest)
    if touched:
        # committed read contract: carried/touched files cannot hold
        # evolved columns — null-fill them with the SOURCE's types
        tgt = _apply_dv(
            _read_files(spark, table_dir, sorted(touched), tschema),
            old_dv,
            _dv_deleted(manifest),
        )
        for c in extra:
            tgt = tgt.withColumn(c, F.lit(None).cast(src.schema[c].dataType))
        tgt = tgt.select(cols)
    else:
        # no file can hold a source key: every source row is unmatched
        tgt = _empty_frame(spark, src.select(cols).schema)
    join_cond = F.lit(True)
    for k in keys:
        join_cond = join_cond & (F.col(f"t.{k}") == F.col(f"s.{k}"))
    # side-presence MARKERS, not key nullability: a target row whose key
    # column is NULL (legal in the table — only the SOURCE is validated
    # non-null) never equi-matches, and classifying it by t.key IS NULL
    # would mistake it for a source-only row and insert/skip it away;
    # the marker identifies the side regardless of key content
    j = (
        tgt.withColumn("__t", F.lit(True))
        .alias("t")
        .join(
            src.withColumn("__s", F.lit(True)).alias("s"),
            join_cond,
            "full_outer",
        )
    )

    t_k, s_k = F.col("t.__t"), F.col("s.__s")
    true_, false_ = F.lit(True), F.lit(False)
    deleting = F.col(f"s.{delete_col}") if delete_col else false_
    m_cond = F.expr(matched_condition) if matched_condition else true_
    i_cond = F.expr(not_matched_condition) if not_matched_condition else true_
    if nbs_triples is not None:
        d_cond = _where_expr(nbs_triples, qualify="t")
    elif not_matched_by_source_condition:
        d_cond = F.expr(not_matched_by_source_condition)
    else:
        d_cond = true_
    action = (
        F.when(
            t_k.isNull(),
            F.when(
                ~deleting
                & F.lit(when_not_matched == "insert")
                & F.coalesce(i_cond, false_),
                F.lit("I"),
            ).otherwise(F.lit("skip")),
        )
        .when(
            s_k.isNull(),
            F.when(
                F.lit(when_not_matched_by_source == "delete")
                & F.coalesce(d_cond, false_),
                F.lit("D"),
            ).otherwise(F.lit("C")),
        )
        .otherwise(
            F.when(deleting, F.lit("MD"))
            .when(
                F.lit(when_matched == "update") & F.coalesce(m_cond, false_),
                F.lit("U"),
            )
            .when(
                F.lit(when_matched == "delete") & F.coalesce(m_cond, false_),
                F.lit("MD"),
            )
            .otherwise(F.lit("C"))
        )
    )

    def _value(c: str):
        if update_set is None:
            upd = F.col(f"s.{c}")  # UPDATE SET *: replace from the source
        elif c in update_set:
            upd = F.expr(update_set[c])
        else:
            upd = F.col(f"t.{c}")  # explicit SET: unmentioned cols keep target
        return (
            F.when(F.col("__action") == "I", F.col(f"s.{c}"))
            .when(F.col("__action") == "U", upd)
            .otherwise(F.col(f"t.{c}"))
            .alias(c)
        )

    rows = j.withColumn("__action", action).select(
        *[F.coalesce(F.col(f"t.{k}"), F.col(f"s.{k}")).alias(k) for k in keys],
        *[_value(c) for c in cols if c not in keys],
        "__action",
    )
    if cluster_files:
        # range-cluster BELOW the metrics node: repartitionByRange samples
        # its input in a job of its own, which would fire a CollectMetrics
        # node inside the sampled plan twice and double every count
        rows = rows.repartitionByRange(cluster_files, *keys)
    obs = Observation()
    staged_df = (
        rows.observe(
            obs,
            F.sum((F.col("__action") == "U").cast("long")).alias("updated"),
            F.sum(F.col("__action").isin("D", "MD").cast("long")).alias("deleted"),
            F.sum((F.col("__action") == "I").cast("long")).alias("inserted"),
            F.sum((F.col("__action") == "C").cast("long")).alias("copied"),
        )
        .where(~F.col("__action").isin("skip", "D", "MD"))
        .select(cols)
    )
    version, vdir = _stage(staged_df, table_dir, what, current)
    metrics = {k: int(v or 0) for k, v in obs.get.items()}
    if not (metrics["updated"] or metrics["deleted"] or metrics["inserted"]):
        # pure no-op: don't commit a version that only re-copies
        snaplog.remove(vdir)
        return current, metrics
    staged = _staged_entries(
        spark, table_dir, version, stats_cols, manifest.get("bloom_spec")
    )
    dv = _carried_dv(spark, table_dir, version, old_dv, carried)
    changes = None
    if manifest.get("cdf") and touched:
        # materialize this rewrite's NET row-level diff so changeFeed
        # consumers replay it instead of refusing (Delta's
        # enableChangeDataFeed trade: O(changed rows) once, at write
        # time): tgt holds the touched files' pre-rewrite live rows, the
        # staged dir the post-rewrite state of that region — the diff
        # never scans carried files. Explicit schema: a rewrite that
        # deletes every touched row stages ZERO data files, and schema
        # inference over an empty dir would fail
        staged_rows = spark.read.schema(staged_df.schema).parquet(vdir)
        changes = _materialize_changes(
            spark, table_dir, version,
            _keyed_diff(tgt, staged_rows.select(cols), keys, cols),
        )
    # an evolved rewrite commits the WIDENED schema (carried files
    # null-fill the new columns through the read contract)
    return _publish_staged(table_dir, version, snaplog.next_record(
        manifest, version, op, staged + carried,
        properties=properties, staged_schema=staged_df.schema.json(),
        dv=dv, changes=changes,
    )), metrics


def _keyed_diff(
    old_df: DataFrame, new_df: DataFrame, keys: list[str], cols: list[str]
) -> DataFrame:
    """NET row-level diff of two keyed states — the CDC core shared by
    ``snapshot_changes`` (batch version diff) and the merge family's
    change-file materialization: each key yields 0 (identical rows), 1
    (``insert``/``delete``), or 2 (``update_preimage``/
    ``update_postimage``) change events from ONE full-outer join (the
    only shuffle) and a null-safe struct compare. The join itself is
    null-safe too: a NULL-keyed row (legal in merge targets) carried
    unchanged through a rewrite must MATCH its own pre-image and emit
    nothing — plain equality would put its two copies on opposite
    outer-join sides and fabricate a delete+insert pair. Assumes the
    keyed-state contract (one row per key, the merge family's own
    invariant); duplicate keys in either state fan the join out."""
    val_cols = [c for c in cols if c not in keys]
    o = old_df.select(*keys, F.struct(*val_cols).alias("__old"))
    n = new_df.select(*keys, F.struct(*val_cols).alias("__new"))
    cond = functools.reduce(
        lambda a, b: a & b, [o[k].eqNullSafe(n[k]) for k in keys]
    )
    j = o.join(n, cond, "full_outer").select(
        *[F.coalesce(o[k], n[k]).alias(k) for k in keys],
        o["__old"],
        n["__new"],
    )
    old, new = F.col("__old"), F.col("__new")

    def _ev(side, change):
        return F.struct(side.alias("vals"), F.lit(change).alias("_change_type"))

    events = (
        F.when(old.isNull(), F.array(_ev(new, "insert")))
        .when(new.isNull(), F.array(_ev(old, "delete")))
        .when(
            ~old.eqNullSafe(new),
            F.array(_ev(old, "update_preimage"), _ev(new, "update_postimage")),
        )
    )  # otherwise NULL: explode drops the row
    return (
        j.select(*keys, F.explode(events).alias("__e"))
        .select(
            *keys,
            *[F.col(f"__e.vals.{c}").alias(c) for c in val_cols],
            F.col("__e._change_type").alias("_change_type"),
        )
        .select(*cols, "_change_type")
    )


def _materialize_changes(
    spark: SparkSession, table_dir: str, version: int, changes: DataFrame
) -> list[dict]:
    """Write an already-typed change DataFrame (data columns +
    ``_change_type``) under ``_changes/v=N/`` and return its manifest
    entries — the storage half shared by the keyed-rewrite, predicate-
    delete, and restore materializations. Crash debris from a previous
    attempt at the SAME version is overwritten: the staging claim for N
    is already ours, and the records only publish with the commit."""
    changes = changes.withColumn(
        "_change_type", F.col("_change_type").cast("string")
    )
    cdir = f"{table_dir.rstrip('/')}/_changes/v={version}"
    changes.write.mode("overwrite").parquet(cdir)
    import pyarrow.parquet as pq

    f, root = snaplog.resolve(cdir)
    entries = []
    for info in sorted(snaplog.listdir(cdir), key=lambda i: i.base_name):
        if not info.base_name.endswith(".parquet"):
            continue
        with f.open_input_file(info.path) as srcf:
            rows = int(pq.ParquetFile(srcf).metadata.num_rows)
        entries.append(
            {
                "path": f"_changes/v={version}/{info.base_name}",
                "rows": rows,
                "bytes": int(info.size),
            }
        )
    return entries


def snapshot_changes(
    spark: SparkSession,
    table_dir: str,
    key: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change feed between two committed versions — the Delta
    CDF / Iceberg changelog shape: every row of the result is a table row
    plus a ``_change_type`` column in ``insert | delete |
    update_preimage | update_postimage``. Net semantics over the span
    (a key upserted in v+1 and deleted in v+2 reads as one delete from
    v→v+2); call per adjacent pair for per-commit granularity.

    The 100 TB lever is manifest-level: data files are immutable, so any
    file carried by reference from ``from_version`` into ``to_version``
    cannot contain a changed row — both endpoint manifests are diffed
    DRIVER-SIDE and only the files unique to one side are ever listed,
    opened, or scanned (test-pinned via ``inputFiles``). On a table
    maintained by keyed upserts that is O(touched files), not O(table).
    The rows of rewritten-but-unchanged survivors (a touched file holds
    10k rows, one key updated) are dropped by a null-safe struct compare
    after one full-outer join keyed by ``key`` — the only shuffle, and it
    moves changed-file rows only.

    Columns follow ``to_version``'s manifest schema; rows read from
    pre-evolution files surface NULL for columns added later (the same
    fill ``snapshot_read`` applies)."""
    current = snapshot_version(spark, table_dir)
    v_to = to_version if to_version is not None else current
    if from_version > v_to:
        raise ValueError(
            f"snapshot_changes: from_version {from_version} > to_version {v_to}"
        )
    m_from = snaplog.read_manifest(table_dir, from_version)
    m_to = snaplog.read_manifest(table_dir, v_to)
    old_df, new_df, cols = _state_diff_sides(
        spark, table_dir, m_from, m_to, "snapshot_changes"
    )
    return _keyed_diff(old_df, new_df, [key], cols)


def _state_diff_sides(
    spark: SparkSession,
    table_dir: str,
    m_from: dict,
    m_to: dict,
    caller: str,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """File-wise (old_rows, new_rows, cols) sides of the state diff
    between two manifests — the manifest-level CDC core shared by
    ``snapshot_changes`` (keyed diff downstream) and the RESTORE
    change-file materialization (keyless multiset diff: old side emits
    as deletes, new side as inserts, after the caller nets identical
    rows out with an ``exceptAll`` pair — rewritten-but-identical
    survivors appear in both sides when restoring across a COW
    rewrite). Only files unique to one side, plus DV-delta positions
    in shared files, are ever opened."""
    schema = _manifest_schema(m_to)
    cols = [f.name for f in schema.fields]
    from_paths = {e["path"] for e in m_from["files"]}
    to_paths = {e["path"] for e in m_to["files"]}
    # columns follow m_to's schema, but each side's FILES are read under
    # their OWN manifest schema and projected onto it with try_cast —
    # diffing across a type-changing replace (int v1, string v2, restore
    # to v1) would otherwise crash the old-side parquet scan with a
    # physical-type mismatch; added columns NULL-fill, dropped columns
    # leave the comparison
    from_schema = _manifest_schema(m_from)

    def _read(paths: set[str], src=None) -> DataFrame:
        src = src if src is not None else schema
        if not paths:
            return _empty_frame(spark, schema)
        # explicit schema: pre-evolution files fill missing columns with
        # NULL, and no footer-merging schema inference pass is paid
        return _read_files(spark, table_dir, sorted(paths), src)

    # each endpoint's LIVE rows honor that endpoint's deletion vector
    # (_metadata only resolves on a real file scan, so skip empty sides)
    dv_from = _dv_read(spark, table_dir, m_from)
    dv_to = _dv_read(spark, table_dir, m_to)

    def _read_live(paths: set[str], dv, deleted, src) -> DataFrame:
        if not paths:
            return _empty_frame(spark, schema)
        names = {f.name for f in src.fields}
        return _apply_dv(_read(paths, src), dv, deleted).select(
            [
                (
                    F.col(f.name).try_cast(f.dataType)
                    if f.name in names
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in schema.fields
            ]
        )

    old_df = _read_live(
        from_paths - to_paths, dv_from, _dv_deleted(m_from), from_schema
    )
    new_df = _read_live(
        to_paths - from_paths, dv_to, _dv_deleted(m_to), schema
    )
    if dv_from is not None or dv_to is not None:
        # DV delta over SHARED files: positions deleted between the
        # endpoints are live-at-from rows (they surface as deletes); a
        # restore can resurrect positions the other way. Only files named
        # in the delta are ever opened — the manifest-diff bound holds.
        empty_dv = _empty_frame(spark, _DV_SCHEMA)
        f_dv = dv_from if dv_from is not None else empty_dv
        t_dv = dv_to if dv_to is not None else empty_dv
        shared = from_paths & to_paths

        def _dv_delta_rows(delta: DataFrame) -> DataFrame:
            delta = delta.where(
                F.col("path").isin(sorted(shared)) if shared else F.lit(False)
            )
            paths = [r["path"] for r in delta.select("path").distinct().collect()]
            if not paths:
                return _empty_frame(spark, schema)
            rows = (
                _read(set(paths))
                .withColumn(
                    "__dv_path",
                    F.regexp_extract(F.col("_metadata.file_path"), _DV_RELPATH_RE, 1),
                )
                .withColumn("__dv_pos", F.col("_metadata.row_index"))
            )
            # the delta is bounded by the larger endpoint's DV — gate the
            # broadcast on that bound like every other DV join
            bound = max(_dv_deleted(m_from) or 0, _dv_deleted(m_to) or 0)
            return rows.join(
                _dv_side(delta, bound),
                ["__dv_path", "__dv_pos"],
                "semi",
            ).select(cols)

        newly_deleted = _dv_delta_rows(t_dv.exceptAll(f_dv))
        resurrected = _dv_delta_rows(f_dv.exceptAll(t_dv))
        old_df = old_df.unionByName(newly_deleted)
        new_df = new_df.unionByName(resurrected)
    return old_df, new_df, cols


def snapshot_history(
    spark: SparkSession, table_dir: str, check_available: bool = False
) -> list[dict]:
    """Table history from the commit log (the DESCRIBE HISTORY shape):
    one record per committed version — file/row/byte totals and how many
    files were newly staged vs carried by reference from older versions.
    Pure manifest reads — no data files are listed or opened, so history
    on a 100 TB table costs KBs of JSON. With a manifest-log checkpoint
    the checkpointed prefix is served straight from the compacted log
    (zero manifest reads — the checkpoint stores exactly these records);
    only the tail reads real manifests. ``check_available=True``
    additionally probes every referenced file's existence (False once
    vacuum reclaimed any of it) — one FS round-trip per file, so opt-in;
    it needs the per-version FILE LISTS and therefore always takes the
    full manifest-read path — versions whose records ``snapshot_expire_log``
    retired are then served from the checkpointed summaries with
    ``available=False`` (their data files are unverifiable and typically
    vacuumed past the horizon), so both flag values return the SAME
    version set."""
    out = []
    start = 1
    ck = snaplog.read_checkpoint(table_dir)
    if not check_available:
        if ck is not None:
            out.extend(dict(rec) for rec in ck["log"])
            start = int(ck["version"]) + 1
    # expired versions live only in the compacted log; the availability
    # path must not silently return a shorter history than the default
    ck_recs = (
        {int(rec["version"]): rec for rec in ck["log"]}
        if (check_available and ck is not None)
        else {}
    )
    for v in range(start, snapshot_version(spark, table_dir) + 1):
        try:
            m = snaplog.read_manifest(table_dir, v)
        except FileNotFoundError:
            if v in ck_recs:
                out.append({**dict(ck_recs[v]), "available": False})
            continue
        rec = snaplog.history_rec(v, m)
        if check_available:
            rec["available"] = all(
                snaplog.exists(snaplog.entry_uri(table_dir, e["path"]))
                for e in m["files"]
            )
        out.append(rec)
    return out


def snapshot_stats_agg(
    spark: SparkSession,
    table_dir: str,
    cols: list[str] | None = None,
    version: int | None = None,
) -> DataFrame:
    """METADATA-ONLY aggregates: exact ``COUNT(*)``, ``MIN``/``MAX`` and
    null counts answered from the commit manifest's per-file stats
    instead of scanning data — the lakehouse fast path Delta/Iceberg
    expose for ``SELECT count(*) FROM t`` (Delta's metadata-only query,
    Iceberg's manifest stats). On a 100 TB table this is KBs of JSON
    versus a full scan; the answer is EXACT, never approximate, because
    the same write paths that maintain skipping stats maintain these.

    Returns a ONE-ROW DataFrame: ``n_rows`` (bigint) plus, per requested
    column, ``min_<c>``/``max_<c>`` (the column's own type) and
    ``nulls_<c>`` (bigint).

    Correctness under merge-on-read: a file with deletion-vector debt has
    stale stats (the min might be a tombstoned row), so its contribution
    is recomputed by scanning ONLY the DV'd files with the vector applied
    — exact at the cost of O(dirty files), never O(table). Row counts
    stay pure metadata even then (the manifest carries exact per-file
    deleted counts). Files lacking recorded stats for a requested column
    are likewise scanned (and only them). With no DV and full stats the
    plan touches ZERO data files — ``result.inputFiles() == []``,
    test-pinned."""
    v = version if version is not None else snapshot_version(spark, table_dir)
    if v < 1:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    manifest = snaplog.read_manifest(table_dir, v)
    entries = manifest["files"]
    schema = _manifest_schema(manifest)
    cols = list(cols or [])
    types = {f.name: f.dataType for f in schema.fields}
    unknown = [c for c in cols if c not in types]
    if unknown:
        raise ValueError(
            f"snapshot_stats_agg: columns {unknown} not in the table "
            f"schema {sorted(types)}"
        )
    dv_counts = (manifest.get("dv") or {}).get("files", {})
    total = sum(e.get("rows", 0) for e in entries) - (_dv_deleted(manifest) or 0)

    def _dirty(e: dict) -> bool:
        if e.get("rows", 0) == 0:
            return False  # nothing to contribute either way
        if dv_counts.get(e["path"], 0) > 0:
            return True  # stats may describe tombstoned rows
        st = e.get("stats") or {}
        return any(c not in st for c in cols)

    dirty = [e for e in entries if _dirty(e)]
    clean = [e for e in entries if not _dirty(e) and e.get("rows", 0) > 0]

    # driver-side fold over the clean files' recorded stats; values are
    # JSON-safe (snaplog.json_safe) where ISO timestamp strings order
    # chronologically, so min/max comparison is plain Python
    mins: dict[str, object] = {c: None for c in cols}
    maxs: dict[str, object] = {c: None for c in cols}
    nulls: dict[str, int] = {c: 0 for c in cols}
    for e in clean:
        for c in cols:
            s = e["stats"][c]
            nulls[c] += int(s.get("nulls", 0))
            for v_, acc, better in ((s["min"], mins, min), (s["max"], maxs, max)):
                if v_ is None:
                    continue  # all-NULL file for this column
                acc[c] = v_ if acc[c] is None else better(acc[c], v_)

    if dirty:
        dirty_keys = sorted({e["path"] for e in dirty})
        dv = _dv_read(spark, table_dir, manifest)
        scanned = _apply_dv(
            _read_files(spark, table_dir, [e["path"] for e in dirty], schema),
            dv.where(F.col("path").isin(dirty_keys)) if dv is not None else None,
            _dv_deleted(manifest),
        )
        aggs = []
        for c in cols:
            aggs.append(F.min(c).alias(f"__min_{c}"))
            aggs.append(F.max(c).alias(f"__max_{c}"))
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"))
        row = scanned.agg(*aggs).head() if cols else None
        for c in cols:
            nulls[c] += int(row[f"__nulls_{c}"] or 0)
            for v_, acc, better in (
                (snaplog.json_safe(row[f"__min_{c}"]), mins, min),
                (snaplog.json_safe(row[f"__max_{c}"]), maxs, max),
            ):
                if v_ is None:
                    continue
                acc[c] = v_ if acc[c] is None else better(acc[c], v_)

    out = [F.lit(int(total)).cast("long").alias("n_rows")]
    for c in cols:
        t = types[c]
        out.append(F.lit(mins[c]).cast(t).alias(f"min_{c}"))
        out.append(F.lit(maxs[c]).cast(t).alias(f"max_{c}"))
        out.append(F.lit(int(nulls[c])).cast("long").alias(f"nulls_{c}"))
    # projected over a one-row Arrow table (a local relation), the
    # literals fold into a LocalTableScan when the plan is optimized: the
    # answer compiles no class, where a Range under them compiled two per
    # call (each call's values are new literals in generated code)
    import pyarrow as pa

    return spark.createDataFrame(pa.table({"_": [0]})).select(*out)


def snapshot_count(
    spark: SparkSession,
    table_dir: str,
    where: list[tuple] | None = None,
    version: int | None = None,
) -> int:
    """Exact FILTERED count with manifest-level evaluation: each file is
    classified by its stats envelope — provably zero matching rows
    (``_entry_prunable``: skipped), provably ALL rows matching
    (``_entry_all_match``: counted from the manifest, minus nothing —
    all-match is only provable on DV-clean files), or undecided (scanned
    with the residual filter and deletion vector applied).

    On a range-clustered event log, ``where=[("ts", ">=", a), ("ts",
    "<=", b)]`` opens only the (at most two) BOUNDARY files the window
    partially covers — interior files contribute their manifest row
    counts without being listed or opened, which at 100 TB is the
    difference between a windowed count and a windowed scan. Without
    ``where`` this is the pure metadata count (exact under DV debt: the
    manifest carries per-file deleted totals)."""
    v = version if version is not None else snapshot_version(spark, table_dir)
    if v < 1:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    manifest = snaplog.read_manifest(table_dir, v)
    entries = manifest["files"]
    dv_counts = (manifest.get("dv") or {}).get("files", {})
    if not where:
        return sum(e.get("rows", 0) for e in entries) - (
            _dv_deleted(manifest) or 0
        )
    total = 0
    partial: list[dict] = []
    for e in entries:
        if e.get("rows", 0) <= 0:
            continue
        if _entry_prunable(e, where):
            continue  # proves zero matching rows — contributes nothing
        if not dv_counts.get(e["path"], 0) and _entry_all_match(
            e, where
        ):
            total += e["rows"]  # proves every row matches — no scan
        else:
            partial.append(e)
    if partial:
        dirty_keys = sorted({e["path"] for e in partial})
        dv = _dv_read(spark, table_dir, manifest)
        scanned = _apply_dv(
            _read_files(
                spark, table_dir, [e["path"] for e in partial],
                _manifest_schema(manifest),
            ),
            dv.where(F.col("path").isin(dirty_keys)) if dv is not None else None,
            _dv_deleted(manifest),
        )
        total += scanned.where(
            F.coalesce(_where_expr(where), F.lit(False))
        ).count()
    return total


def snapshot_delete(
    spark: SparkSession,
    table_dir: str,
    where: list[tuple],
    stats_cols: list[str] | None = None,
    mode: str = "cow",
) -> tuple[int, int]:
    """Predicate delete committed as a new version; returns
    ``(new_version, rows_deleted)``.

    ``mode="cow"`` (default) rewrites candidate files minus matches —
    right for deletes that hollow out whole key ranges. ``mode="dv"``
    commits a DELETION VECTOR instead (the Delta/Iceberg merge-on-read
    shape): no data file is rewritten — candidate files are scanned once
    for matching (file, row-index) positions, which append to the
    version's ``_dv`` dataset; readers subtract them with one broadcast
    anti-join. O(matching rows) write cost makes it the lever for
    SCATTERED deletes (GDPR erasure of single rows across thousands of
    128 MB files); physical maintenance (optimize, or an upsert
    touching the file) purges entries as it rewrites, so the debt never
    outlives maintenance. For mass deletes stay with ``cow`` — the DV
    grows with the deleted-row count.

    The takedown/right-to-erasure shape a training-data table needs:
    files whose stats envelope PROVES no row matches (``_entry_prunable``
    — the same driver-side skipping ``snapshot_read`` uses) are carried
    into the new manifest by reference, untouched; only candidate files
    are read, filtered to survivors, and re-staged. Cost is O(candidate
    files), not O(table) — on a key-clustered 100 TB table a targeted
    delete touches a handful of files. Files without stats are simply
    candidates (correct, just not skipped).

    SQL DELETE semantics: rows where the predicate is TRUE go; rows
    where it is FALSE **or NULL** stay. ``rows_deleted`` falls out of
    the manifests for free (candidate rows minus staged rows) — no extra
    count job. ``stats_cols`` defaults to what the current manifest
    tracks, so skipping power survives the rewrite."""
    current = snapshot_version(spark, table_dir)
    if current < 1:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    manifest = snaplog.read_manifest(table_dir, current)
    entries = manifest["files"]
    if stats_cols is None:
        stats_cols = snaplog.tracked_stats(entries)

    if mode not in ("cow", "dv"):
        raise ValueError(f"snapshot_delete: unknown mode {mode!r}")
    candidates = [e for e in entries if not _entry_prunable(e, where)]
    if not candidates:
        return current, 0  # no file can hold a match: nothing to commit
    candidate_paths = {c["path"] for c in candidates}
    carried = [e for e in entries if e["path"] not in candidate_paths]
    old_dv = _dv_read(spark, table_dir, manifest)
    if mode == "dv":
        cand_df = _read_files(
            spark, table_dir, [e["path"] for e in candidates],
            _manifest_schema(manifest),
        )
        matches = (
            cand_df.withColumn(
                "path",
                F.regexp_extract(F.col("_metadata.file_path"), _DV_RELPATH_RE, 1),
            )
            .withColumn("pos", F.col("_metadata.row_index"))
            .where(F.coalesce(_where_expr(where), F.lit(False)))
            .select("path", "pos")
        )
        if old_dv is not None:
            # already-deleted rows must not double-count (or re-match);
            # same broadcast gate as the readers — the accumulated DV can
            # itself be past broadcast size
            side = old_dv
            if (_dv_deleted(manifest) or 0) <= DV_BROADCAST_MAX_POSITIONS:
                side = F.broadcast(old_dv)
            matches = matches.join(side, ["path", "pos"], "left_anti")
        new_dv = matches if old_dv is None else old_dv.unionByName(matches)
        version = current + 1
        vdir = snaplog.claim_version(table_dir, version, "snapshot_delete")
        dv_block = _write_dv(spark, table_dir, version, new_dv)
        old_total = (manifest.get("dv") or {}).get("deleted", 0)
        deleted_now = (dv_block["deleted"] if dv_block else 0) - old_total
        if deleted_now == 0:
            snaplog.remove(vdir)  # no match: nothing to commit
            return current, 0
        # every data file carried by reference
        return _publish_staged(table_dir, version, snaplog.next_record(
            manifest, version, "delete", entries, dv=dv_block
        )), deleted_now
    keep = ~F.coalesce(_where_expr(where), F.lit(False))
    # manifest schema = read contract: after a schema evolution the
    # candidate files can differ in width — inferring from one footer
    # could rewrite survivors minus an evolved column
    live = _apply_dv(
        _read_files(
            spark, table_dir, [e["path"] for e in candidates],
            _manifest_schema(manifest),
        ),
        old_dv,
        _dv_deleted(manifest),
    )
    survivors = live.where(keep)
    version, _ = _stage(survivors, table_dir, "snapshot_delete", current)
    staged = _staged_entries(
        spark, table_dir, version, stats_cols, manifest.get("bloom_spec")
    )
    dv_counts = (manifest.get("dv") or {}).get("files", {})
    live_candidates = sum(
        e.get("rows", 0) - dv_counts.get(e["path"], 0) for e in candidates
    )
    deleted = live_candidates - sum(e["rows"] for e in staged)
    dv = _carried_dv(spark, table_dir, version, old_dv, carried)
    changes = None
    if manifest.get("cdf"):
        # a predicate delete's CDC is exactly the predicate-matched live
        # rows (no keyed diff needed): materialize them as `delete`
        # change rows so the changeFeed replays the rewrite. Cost: ONE
        # additional scan of the candidate files (deliberately re-read
        # rather than persisted — mass deletes are the COW use case, and
        # caching gigabytes of candidates to save a parquet re-scan is
        # the wrong trade); still O(candidates), never O(table)
        changes = _materialize_changes(
            spark, table_dir, version,
            live.where(F.coalesce(_where_expr(where), F.lit(False)))
            .withColumn("_change_type", F.lit("delete")),
        )
    return _publish_staged(table_dir, version, snaplog.next_record(
        manifest, version, "delete", staged + carried,
        staged_schema=survivors.schema.json(), dv=dv, changes=changes,
    )), deleted


def snapshot_restamp(
    spark: SparkSession, table_dir: str, properties: dict,
    expected_version: int | None = None,
) -> int:
    """Metadata-only commit: a new version referencing the CURRENT file
    list (and deletion vector) verbatim, with new ``properties``. Zero
    bytes move. The exactly-once stamp mover for derived-table
    maintainers whose change span nets to ZERO content change — the
    stamp must still advance atomically or every later sync re-reads the
    same span. ``expected_version`` applies the usual CAS."""
    current = snapshot_version(spark, table_dir)
    if current < 1:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    if expected_version is not None and current != expected_version:
        raise SnapshotConflictError(
            f"snapshot_restamp: table {table_dir} is at version {current}, "
            f"caller expected {expected_version}"
        )
    manifest = snaplog.read_manifest(table_dir, current)
    # the NEW properties replace the old wholesale (that is what a
    # restamp is) — except streaming writers' txn idempotence stamps,
    # which must survive every commit or a crash-replayed micro-batch
    # would re-append after an interleaved restamp
    snaplog.commit(table_dir, current + 1, snaplog.next_record(
        manifest, current + 1, "restamp", manifest["files"],
        properties=properties, restamped_from=current,
    ))
    return current + 1


def snapshot_clean_orphans(
    spark: SparkSession,
    table_dir: str,
    dry_run: bool = False,
    staging_grace_sec: float = 3600.0,
) -> list[int]:
    """Remove CRASHED-WRITER orphan stages: ``v=N`` directories carrying
    a ``_CLAIM`` marker but no ``_manifests/N.json`` commit record. Such
    a directory was never visible to any reader (readers only follow
    committed records) but blocks the next writer's staging claim for
    version N — the commit-protocol errors tell the operator to delete
    it; this is that remedy as a safe API. Also sweeps the DataSource
    writer's ``_staging/`` leftovers (task-written files a crashed driver
    never moved under ``v=N/`` — no manifest ever references them), but
    ONLY staging subdirs whose newest file is older than
    ``staging_grace_sec`` (default 1 h): the commit-conflict error routes
    operators here while OTHER writers may be live (``multiWriter``), and
    a live writer's in-flight staging files are by definition recent —
    the age gate keeps the recovery call safe to run beside them. A
    crashed writer's stage trips the gate on the next day's sweep (or
    pass ``staging_grace_sec=0`` when provably no writer is active).
    Returns the versions removed, followed by the swept staging subdirs
    as ``"_staging/<name>"`` strings (``dry_run=True`` runs the SAME
    scans — including the age-gated staging one — and reports everything
    the real run would delete, without deleting).

    Safety: only UNCOMMITTED stages above the current version qualify.
    A version at or below it was taken by a commit, possibly a
    metadata-only one (restamp, a restore without change files), which
    takes a version without claiming its dir. A staged
    writer that loses such a race removes its own ``v=N`` and
    ``_changes/v=N`` before raising; what a writer that crashed inside
    that window leaves is referenced by no manifest, so
    ``snapshot_vacuum`` reclaims it once the version falls out of
    ``keep_last``. Directories without a _CLAIM marker are left alone.
    NOTE: a LIVE writer's stage
    looks identical to a crashed one mid-write — run this only when no
    writer is active, exactly like VACUUM's single-operator assumption."""
    import re

    base = table_dir.rstrip("/")
    if not snaplog.exists(base):
        return []
    current = snapshot_version(spark, table_dir)
    removed = []
    for info in snaplog.listdir(base):
        m = re.fullmatch(r"v=(\d+)", info.base_name)
        if not m:
            continue
        v = int(m.group(1))
        if v <= current:
            continue
        if not snaplog.exists(f"{base}/{info.base_name}/_CLAIM"):
            continue
        if snaplog.exists(f"{base}/{snaplog.MANIFEST_DIR}/{v}.json"):
            continue  # committed between the version read and here
        if not dry_run:
            snaplog.remove(f"{base}/{info.base_name}")
        removed.append(v)
    swept = []
    sdir = f"{base}/_staging"
    if snaplog.exists(sdir):
        import time

        cutoff_ns = (time.time() - max(0.0, staging_grace_sec)) * 1e9
        leftover = False
        for sub in snaplog.listdir(sdir):
            newest = sub.mtime_ns
            if not sub.is_file:
                for fst in snaplog.listdir(f"{sdir}/{sub.base_name}"):
                    newest = max(newest, fst.mtime_ns)
            if newest < cutoff_ns:
                if not dry_run:
                    snaplog.remove(f"{sdir}/{sub.base_name}")
                swept.append(f"_staging/{sub.base_name}")
            else:
                leftover = True  # possibly a LIVE writer's stage: keep
        if not leftover and not dry_run:
            snaplog.remove(sdir)
    return sorted(removed) + sorted(swept)


def snapshot_restore(spark: SparkSession, table_dir: str, to_version: int) -> int:
    """Commit ``to_version``'s state as the NEW current version (the
    RESTORE shape): the new commit record simply references the old
    version's file list — zero bytes move, the operation costs one
    manifest read and one atomic record create regardless of table size,
    and the rolled-back-over versions stay time-travelable until
    vacuumed. Reachability vacuum then treats the restored version's
    files as current, so a restore also PROTECTS them. Raises if the
    target's data is no longer fully present (vacuumed) — restoring to a
    hole would commit a version that cannot be read."""
    manifest = snaplog.read_manifest(table_dir, to_version)
    files = manifest["files"]
    missing = [
        e["path"]
        for e in files
        if not snaplog.exists(snaplog.entry_uri(table_dir, e["path"]))
    ]
    if manifest.get("dv") and not snaplog.exists(
        snaplog.entry_uri(table_dir, manifest["dv"]["dir"])
    ):
        missing.append(manifest["dv"]["dir"])
    if missing:
        raise FileNotFoundError(
            f"snapshot_restore: version {to_version} in {table_dir} is no "
            f"longer fully present (vacuumed?) — {len(missing)} file(s) "
            f"missing, e.g. {missing[0]}"
        )
    current = snapshot_version(spark, table_dir)
    m_cur = snaplog.read_manifest(table_dir, current)
    version = current + 1
    # once enabled, a restore never silently drops the feed contract
    # (either endpoint's flag keeps it on)
    cdf = manifest.get("cdf") or m_cur.get("cdf")
    claimed = changes = None
    if cdf:
        # hold the v=N claim while writing _changes/v=N: a
        # concurrent writer deriving the same next version must not
        # interleave its own change files into our directory (the
        # merge family holds this claim implicitly via its staging)
        claimed = snaplog.claim_version(table_dir, version)
        # a restore only re-references immutable files, so the
        # file-wise multiset diff is exact net CDC once identical
        # rows cancel: restoring across a COW rewrite puts a
        # survivor's row content in BOTH sides (old = the rewritten
        # file, new = the original), and the exceptAll pair nets
        # those out so only true churn emits (delete for rows
        # leaving, insert for rows returning; DV deltas on shared
        # files included). Both sides are bounded by files unique
        # to one side — O(span churn), never O(table).
        old_side, new_side, cdc_cols = _state_diff_sides(
            spark, table_dir, m_cur, manifest, "snapshot_restore"
        )
        changes = _materialize_changes(
            spark, table_dir, version,
            old_side.exceptAll(new_side)
            .withColumn("_change_type", F.lit("delete"))
            .unionByName(
                new_side.exceptAll(old_side)
                .withColumn("_change_type", F.lit("insert"))
            ),
        )
    # the restored state is the TARGET version's, so its record is the
    # parent: its deletion vector (version-relative, vacuum-protected)
    # and its stamp travel with it
    record = snaplog.next_record(
        manifest, version, "restore", files, props="carry", cdf=cdf,
        restored_from=to_version, changes=changes,
    )
    if claimed is None:
        snaplog.commit(table_dir, version, record)
    else:
        _publish_staged(table_dir, version, record)
    return version


def snapshot_expire_log(
    spark: SparkSession,
    table_dir: str,
    keep_last: int = 100,
    dry_run: bool = False,
) -> list[int]:
    """Bound the commit LOG (Delta's ``logRetentionDuration``, in version
    units): delete manifest records older than the newest ``keep_last``
    versions, plus checkpoint files the current pointer no longer needs.
    Returns the expired version numbers.

    A year of streaming appends leaves 100k+ ``_manifests/N.json``
    records; version resolution is already O(1)+O(tail) via the
    manifest-log checkpoint, but the directory itself still grows without
    bound and every fallback listing pays it. Expiry is SAFE BY
    CONSTRUCTION in this order:

    1. a fresh checkpoint is forced at the CURRENT version first, so
       ``snapshot_history`` / ``snapshot_version_asof`` keep serving the
       expired versions' summaries from the compacted log (better than
       Delta, which forgets expired history);
    2. only then are records older than the cut deleted. Data files are
       NOT touched — carried files stay readable because reachability is
       decided by ``snapshot_vacuum`` from the KEPT manifests, never by
       log age.

    What expiry gives up, stated: time travel (``snapshot_read(version=
    N)`` / ``restore`` / ``snapshotfeed startingVersion=N``) to an
    expired version raises FileNotFoundError — the same contract every
    log-structured format has past its retention horizon. ``keep_last``
    is clamped to >= 1 (the current version is never expirable)."""
    keep_last = max(1, int(keep_last))
    current = snapshot_version(spark, table_dir)
    if current < 1:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    cut = current - keep_last  # expire versions <= cut
    if cut < 1:
        return []
    expired = [v for v in snaplog.list_versions(table_dir) if v <= cut]
    if dry_run or not expired:
        return expired
    # checkpoint BEFORE deleting: the compacted log is what keeps
    # history/as-of whole across the horizon
    snaplog.write_checkpoint(table_dir, current, None)
    ck = snaplog.read_checkpoint(table_dir)
    if ck is None or int(ck["version"]) < current:
        raise RuntimeError(
            f"snapshot_expire_log: could not establish a checkpoint at "
            f"v{current} under {table_dir} — refusing to delete history "
            f"the compacted log does not carry"
        )
    base = table_dir.rstrip("/")
    mdir = f"{base}/{snaplog.MANIFEST_DIR}"
    for v in expired:
        snaplog.remove(f"{mdir}/{v}.json")
        # a version's materialized change files (_changes/v=N, cdf
        # tables) live exactly as long as its commit record: the feed
        # plans them FROM the manifest, so they are unreadable past it
        snaplog.remove(f"{base}/_changes/v={v}")
    # checkpoint files below the live pointer are superseded
    for info in snaplog.listdir(mdir):
        name = info.base_name
        if name.endswith(".ckpt.json"):
            head = name[: -len(".ckpt.json")]
            if head.isdigit() and int(head) < int(ck["version"]):
                snaplog.remove(f"{mdir}/{name}")
    return expired


def snapshot_vacuum(
    spark: SparkSession,
    table_dir: str,
    keep_last: int = 2,
    dry_run: bool = False,
) -> list[int]:
    """Reclaim data not reachable from the newest ``keep_last`` versions;
    returns the versions whose directories were removed or emptied.
    ``dry_run=True`` reports the same list without deleting anything —
    the look-before-you-reclaim step.

    Reachability, not age, decides: copy-on-write upserts make newer
    manifests reference files living in OLDER version directories, so an
    old ``v=N`` dir is swept file-by-file — anything a kept manifest still
    lists survives in place, the rest is deleted, and the dir goes only
    when nothing reachable remains in it. Vacuum itself never deletes
    commit records (they are the table history, like Delta's log; only
    ``snapshot_expire_log`` retires them) — time travel to a vacuumed
    version raises FileNotFoundError because its data is gone, while the
    current version can never be deleted: ``keep_last`` is clamped to
    >= 1."""
    import re

    keep_last = max(1, keep_last)
    current = snapshot_version(spark, table_dir)
    reachable: set[str] = set()
    dv_dirs: set[str] = set()
    for v in range(max(1, current - keep_last + 1), current + 1):
        try:
            m = snaplog.read_manifest(table_dir, v)
        except FileNotFoundError:
            continue
        reachable.update(e["path"] for e in m["files"])
        if m.get("dv"):
            # a kept version's deletion vector is part of its state; the
            # dataset may live in an OLDER version's dir (carried by a
            # restore), so protect it by name like any reachable file
            dv_dirs.add(m["dv"]["dir"])
    base = table_dir.rstrip("/")
    removed = []
    for info in snaplog.listdir(base):
        name = info.base_name
        m = re.fullmatch(r"v=(\d+)", name)
        if not m:
            continue
        v = int(m.group(1))
        if v > current - keep_last:
            continue
        kept_any = False
        swept_any = False
        for fst in snaplog.listdir(f"{base}/{name}"):
            rel = f"{name}/{fst.base_name}"
            if rel in reachable or rel in dv_dirs:
                kept_any = True
            elif fst.base_name.endswith(".parquet"):
                if not dry_run:
                    snaplog.remove(f"{base}/{rel}")
                swept_any = True
        if not kept_any:
            if not dry_run:
                snaplog.remove(f"{base}/{name}")
            removed.append(v)
        elif swept_any:
            removed.append(v)  # swept of unreachable data; carried files stay
    # DataSource-writer staging leftovers: files under `_staging/` are
    # NEVER referenced by a manifest (commits MOVE them into `v=N/`
    # first), so anything still there is a crashed/aborted writer's
    # residue — reclaimable under the same single-operator assumption
    # that covers orphan `v=N` stages (a LIVE writer's in-flight stage
    # looks identical; run vacuum only when no writer is active).
    if not dry_run:
        snaplog.remove(f"{base}/_staging")
    return sorted(removed)


def snapshot_optimize(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    small_file_bytes: int | None = None,
    stats_cols: list[str] | None = None,
    zorder_by: list[str] | None = None,
    dv_fraction: float | None = None,
) -> tuple[int, int, int]:
    """Bin-packing OPTIMIZE (the Delta shape): coalesce ONLY the
    current version's small files into ~target-sized ones and carry
    every adequately-sized file by reference — maintenance cost is
    O(small files), never O(table). After years of trickle upserts a
    100 TB table holds a long tail of KB-scale commit files; rewriting
    the whole table to fix them costs
    a full pass, while this touches only the tail. Files at or above
    ``small_file_bytes`` (default target/2) never move — their bytes,
    stats, and Bloom entries ride into the new manifest verbatim.

    ``dv_fraction`` (0–1) additionally rewrites any file whose
    DELETION-VECTOR debt exceeds that fraction of its rows — the
    tombstone-compaction lever: merge-on-read deletes cost nothing at
    commit time but tax every subsequent read with the anti-join, so a
    maintenance policy (not incidental small-file packing) must bound
    the debt. The per-file deleted counts already live in the manifest,
    so the trigger reads zero data; rewriting the file materializes its
    survivors and PURGES its DV entries. Under-threshold files are
    carried untouched, entries intact.

    Returns ``(version, files_rewritten, files_carried)``; a no-op
    (fewer than 2 small files and no DV-debt trigger) commits nothing
    and returns the current version. Stats and Bloom filters are
    re-derived for the packed files from the manifest's own spec, so
    skipping power survives, and the rewritten-over version stays
    time-travelable until vacuumed."""
    import math

    v = snapshot_version(spark, table_dir)
    if v < 1:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    manifest = snaplog.read_manifest(table_dir, v)
    entries = manifest["files"]
    cutoff = small_file_bytes if small_file_bytes is not None else target_file_bytes // 2
    dv_counts = (manifest.get("dv") or {}).get("files", {})

    def _dv_heavy(e: dict) -> bool:
        if dv_fraction is None or not dv_counts:
            return False
        rows = e.get("rows") or 0
        return rows > 0 and dv_counts.get(e["path"], 0) / rows >= dv_fraction

    small = [e for e in entries if e.get("bytes", 0) < cutoff or _dv_heavy(e)]
    carried = [e for e in entries if e.get("bytes", 0) >= cutoff and not _dv_heavy(e)]
    # DV debt past policy is reason enough to rewrite even ONE file;
    # plain size-packing still needs >= 2 small files to be worth a commit
    if len(small) < 2 and not any(_dv_heavy(e) for e in small):
        return v, 0, len(entries)
    if stats_cols is None:
        stats_cols = snaplog.tracked_stats(entries)
    total_small = sum(e.get("bytes", 0) for e in small)
    n = max(1, math.ceil(total_small / target_file_bytes))
    old_dv = _dv_read(spark, table_dir, manifest)
    packed = _apply_dv(
        _read_files(
            spark, table_dir, [e["path"] for e in small], _manifest_schema(manifest)
        ),
        old_dv,
        _dv_deleted(manifest),
    )
    if zorder_by:
        # OPTIMIZE ... ZORDER BY: the packed tail is re-clustered on the
        # interleaved key so multi-dimensional min/max skipping works on
        # the result (Delta's shape); ranges come from one aggregate over
        # ONLY the small files being packed — still O(small files)
        from f1_data_pipeline_spark.operators.layout import (
            bucketize,
            interleave_bits,
            zorder_layout,
        )

        bounds = packed.agg(
            *[F.min(c).cast("double").alias(f"__lo_{c}") for c in zorder_by],
            *[F.max(c).cast("double").alias(f"__hi_{c}") for c in zorder_by],
        ).head()
        # a column that is all-NULL in the packed tail (or a tail emptied
        # by deletion-vector subtraction) has NULL bounds — it carries no
        # clustering signal, so its interleave term is skipped rather than
        # crashing on None arithmetic; with no usable column left, fall
        # back to plain coalesce packing
        terms = [
            bucketize(
                F.col(c).cast("double"),
                bounds[f"__lo_{c}"],
                max(bounds[f"__hi_{c}"], bounds[f"__lo_{c}"] + 1e-12),
            )
            for c in zorder_by
            if bounds[f"__lo_{c}"] is not None and bounds[f"__hi_{c}"] is not None
        ]
        if terms:
            zkey = interleave_bits(terms)
            # drop the helper AFTER the range-shuffle + local sort (a plain
            # projection — keeps the clustered order, keeps the table schema)
            packed = zorder_layout(packed, zkey, n).drop("__z")
        else:
            packed = packed.coalesce(n)
    else:
        packed = packed.coalesce(n)
    version, _ = _stage(packed, table_dir, "snapshot_optimize", v)
    staged = _staged_entries(
        spark, table_dir, version, stats_cols, manifest.get("bloom_spec")
    )
    # packing moves rows, never changes them: the exactly-once consumer
    # stamp carries wholesale
    _publish_staged(table_dir, version, snaplog.next_record(
        manifest, version, "optimize", staged + carried, props="carry",
        staged_schema=packed.schema.json(),
        dv=_carried_dv(spark, table_dir, version, old_dv, carried),
        optimized_from=v,
    ))
    return version, len(small), len(carried)
