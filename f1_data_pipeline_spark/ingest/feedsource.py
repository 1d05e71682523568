"""`snapshotfeed` — a Structured Streaming SOURCE over lakehouse snapshot
tables (the Delta table-streaming shape: ``spark.readStream.format(
"delta")``, re-expressed for this repo's commit protocol).

``spark.readStream.format("snapshotfeed").load(table_dir)`` turns a
snapshot table (storage.py's ``_manifests/N.json`` commit protocol) into
a streaming source:

* **Offsets ARE table versions.** Each microbatch covers a committed
  version span ``(start, end]`` — deterministic, so checkpoint recovery
  replays the exact same rows and the engine's offset log gives
  end-to-end exactly-once into an idempotent sink (T4).
* **The first batch is the full current snapshot** (deletion-vector
  aware), then the stream TAILS the log: each later batch reads ONLY the
  files appended in its version span — O(new data) per batch on a 100 TB
  table, never O(table). ``startingVersion=N`` skips the initial
  snapshot and replays commits from version N instead.
* **Append commits stream natively; change commits are explicit.** A
  version that removes files or touches the deletion vector (upsert /
  delete / merge / restore / full replace) cannot be expressed as a pure
  row tail; the source fails with a clear message — or skips the commit
  under ``skipChangeCommits=true`` — exactly Delta's streaming contract.
* **``changeFeed=true`` streams CDC rows instead** (Delta's
  ``readChangeFeed``): every row carries ``_change_type`` and
  ``_commit_version``. Appends and the initial snapshot emit
  ``insert``; DELETION-VECTOR commits emit the tombstoned rows as
  ``delete`` — the DV delta is file-local (new positions per file), so
  each executor diffs the two position sets for its one file and takes
  exactly those rows: an append + DV-delete table (the GDPR-capable
  event-log shape this storage targets) is fully streamable INCLUDING
  deletes, with no precomputed change files. Rewrite commits
  (upsert/merge/cow-delete/restore) remain explicit failures/skips —
  the same boundary Delta solves only by persisting change files at
  write time. A downstream keyed apply (``snapshot_apply_cdc`` with
  ``op_col='_change_type'``, folding by ``_commit_version``) turns the
  feed into an exactly-once maintained replica.
  Content-preserving maintenance (OPTIMIZE / restamp, identified by
  the commit's ``op`` label) is always skipped silently: the rows did
  not change, so the stream must not re-emit them.
* **maxVersionsPerBatch=N** rate-limits steady-state reads (the
  ``maxFilesPerTrigger`` admission-control analog, in commit units).
  The FIRST batch of a reader's lifetime is uncapped: the engine asks
  for ``latestOffset`` before anything reveals the committed offset
  (observed call order — no admission-control hook exists in the Python
  source API), and capping against a GUESSED floor could return an
  offset behind the checkpoint, which the engine would commit and then
  re-deliver the gap — a duplicate bug. So the cap binds from the
  second batch of a continuous run onward (exactly-once always holds;
  only the first batch's sizing is coarse).

Why a first-class source instead of a batch consumer (``snapshot_changes``
over a caller-kept offset): such a consumer is at-least-once with a
caller-managed two-phase ack; this source rides the
engine's own offset log and watermark/trigger machinery, so a downstream
``stream_keyed_upsert`` or windowed aggregate gets checkpointed
exactly-once semantics with zero consumer bookkeeping — the reference's
continuous extract→load loop (extractor.py:21-58 feeding loader.py)
becomes one ``readStream``/``writeStream`` pair end to end.

Scale/deployment note: offset planning reads ONLY manifest JSON (KBs per
version); executors read their one parquet file each via Arrow and yield
RecordBatches (zero row-at-a-time Python). The stream reader's and the
writer's driver process has no JVM/SparkSession, so all commit-log IO —
head resolution, manifest and checkpoint reads, the staging claim, the
commit record and checkpoint writes — goes through ``snaplog``, the one
``pyarrow.fs`` implementation ``storage.py`` shares. Supported table
dirs are plain paths, ``file:`` URIs, ``hdfs://``/``viewfs://`` and the
object-store schemes pyarrow's filesystem registry resolves (s3/gs/abfs
where the native bindings exist), for BOTH the manifest JSON and the
data files (``pq.read_table`` resolves the identical URIs). The commit
record is published once: atomically by hard link on local paths,
check-then-write (single writer) on HDFS and object stores, where
pyarrow.fs has no create-no-overwrite; Hadoop-only schemes such as
``s3a://`` fail typed at first touch.
"""

from __future__ import annotations

import json

from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from f1_data_pipeline_spark import snaplog
from f1_data_pipeline_spark.session import workers_can_import
from f1_data_pipeline_spark.snaplog import SnapshotConflictError

# commit ops that never change table CONTENT — the stream skips them
# silently (re-emitting rows a rewrite merely moved would duplicate the
# feed)
_MAINTENANCE_OPS = {"optimize", "restamp"}


def _norm_dir(path: str) -> str:
    """Normalize a table-dir string, KEEPING its scheme: plain paths and
    URIs both flow through pyarrow's filesystem resolution unchanged."""
    return path.rstrip("/")


class _FeedFile(InputPartition):
    """One appended (or initial-snapshot) data file; ``dv_dir`` names the
    version's deletion-vector dataset when positions must be subtracted.

    Change-feed delta partitions set ``delta_from``: the rows to emit are
    the file positions present in ``dv_dir`` but NOT in ``delta_from``
    (new tombstones → ``change='delete'``; with the dirs swapped, a
    restore's resurrected positions → ``change='insert'``)."""

    def __init__(
        self,
        path: str | None,
        dv_dir: str | None = None,
        dv_key: str | None = None,
        version: int | None = None,
        change: str = "insert",
        delta_from: str | None = None,
        delta: bool = False,
        change_file: bool = False,
    ):
        self.path = path
        self.dv_dir = dv_dir
        self.dv_key = dv_key
        self.version = version
        self.change = change
        self.delta_from = delta_from
        self.delta = delta
        # a materialized CDF file (_changes/v=N/…): rows carry their own
        # _change_type column instead of a partition-constant label
        self.change_file = change_file


def _arrow_where(tbl, where: list[tuple]):
    """EXACT predicate evaluation over one Arrow table — the executor
    half of the ``where`` option (manifest pruning is only a superset
    guarantee; the rows of surviving files still need the real filter,
    and unlike engine-pushed filters the engine never re-applies a
    source OPTION). NULL comparisons drop the row — SQL semantics."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc

    fns = {
        "=": pc.equal,
        "<": pc.less,
        "<=": pc.less_equal,
        ">": pc.greater,
        ">=": pc.greater_equal,
    }
    mask = None
    for col, op, val in where:
        c = tbl[col]
        if op == "is_null":
            m = pc.is_null(c)
        elif op == "is_not_null":
            m = pc.is_valid(c)
        elif op == "in":
            vals = list(val)
            if vals and isinstance(vals[0], datetime.datetime) and pa.types.is_timestamp(
                c.type
            ):
                value_set = pa.array(vals, type=c.type)
            else:
                value_set = pa.array(vals)
            m = pc.is_in(c, value_set=value_set)
        else:
            if isinstance(val, datetime.datetime) and pa.types.is_timestamp(
                c.type
            ):
                # a naive literal is session wall-clock; give it the
                # column's EXACT arrow type — tz-aware columns (Spark
                # TimestampType parquet) raise on naive scalars instead
                # of coercing
                val = pa.scalar(val, type=c.type)
            m = fns[op](c, val)
        mask = m if mask is None else pc.and_(mask, m)
    return tbl.filter(mask) if mask is not None else tbl


def _read_file(
    part: _FeedFile,
    schema_json: str,
    change_feed: bool,
    where: list[tuple] | None = None,
):
    """Executor-side read of one partition — shared by the batch and
    stream readers: open the parquet file with Arrow, subtract (or diff)
    deletion-vector positions, project onto the declared data schema
    (pre-evolution files null-fill later columns), apply the exact
    ``where`` filter, append change-feed metadata columns when enabled,
    and yield RecordBatches."""
    if part.path is None:
        return
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    declared = StructType.fromJson(json.loads(schema_json))
    meta_cols = {"_change_type", "_commit_version"} if change_feed else set()
    data_fields = StructType(
        [f for f in declared.fields if f.name not in meta_cols]
    )
    target = to_arrow_schema(data_fields)
    # nullability-tolerant cast: pre-evolution files null-fill added
    # columns, and Spark treats arrow nullability as advisory here
    target = pa.schema([f.with_nullable(True) for f in target])
    rg_filters = None
    if where and not part.dv_dir and not part.delta:
        # push comparison triples into the parquet read: row-group (and
        # page) statistics skip non-matching chunks INSIDE surviving
        # files — the second pruning tier under the manifest envelope.
        # ONLY on DV-free reads: deletion-vector positions are
        # file-absolute, and a filtered read renumbers rows.
        ops = {"=": "==", "<": "<", "<=": "<=", ">": ">", ">=": ">="}
        fschema = pq.read_schema(part.path)
        names = set(fschema.names)

        def _rg_lit(c, v):
            import datetime

            # same naive-literal-to-column-type cast as _arrow_where:
            # the dataset expression a filter tuple compiles to does not
            # coerce naive datetimes against tz-aware parquet columns
            if isinstance(v, datetime.datetime) and pa.types.is_timestamp(
                fschema.field(c).type
            ):
                return pa.scalar(v, type=fschema.field(c).type)
            return v

        cand = [
            (c, ops[o], _rg_lit(c, v))
            for c, o, v in where
            if o in ops and v is not None and c in names
        ]
        cand += [
            (c, "in", [_rg_lit(c, v) for v in vs if v is not None])
            for c, o, vs in where
            if o == "in" and c in names and any(v is not None for v in vs)
        ]
        rg_filters = cand or None
    tbl = (
        pq.read_table(part.path, filters=rg_filters)
        if rg_filters
        else pq.read_table(part.path)
    )

    def _positions(dv_dir: str | None) -> set[int]:
        if not dv_dir:
            return set()
        import pyarrow.compute as pc

        dv = pq.read_table(dv_dir)
        return {
            int(p)
            for p in dv.filter(pc.equal(dv["path"], part.dv_key))["pos"].to_pylist()
        }

    def _project(sub, change):
        # change=None → a materialized CDF file: keep its STORED
        # _change_type column (row-typed, not a partition constant)
        cols = {}
        for field in target:
            if field.name in sub.column_names:
                cols[field.name] = sub.column(field.name)
            else:
                cols[field.name] = pa.nulls(sub.num_rows, field.type)
        out = pa.table(cols).cast(target)
        if change_feed:
            n = out.num_rows
            label = (
                sub.column("_change_type").cast(pa.string())
                if change is None
                else pa.array([change] * n, pa.string())
            )
            out = out.append_column("_change_type", label).append_column(
                "_commit_version",
                pa.array([int(part.version or 0)] * n, pa.int64()),
            )
        if where:
            # the mask comes from data columns only, so filtering after
            # the append keeps the stored change labels row-aligned
            out = _arrow_where(out, where)
        yield from out.to_batches()

    if part.change_file:
        yield from _project(tbl, None)
        return
    if part.delta:
        # change-feed delta over one file: new tombstones stream as
        # deletes; positions a restore removed from the DV resurface
        # as inserts — both exact set differences of the two datasets
        cur, prev = _positions(part.dv_dir), _positions(part.delta_from)
        for positions, change in (
            (sorted(cur - prev), "delete"),
            (sorted(prev - cur), "insert"),
        ):
            if not positions:
                continue
            yield from _project(
                tbl.take(pa.array(positions, type=pa.int64())), change
            )
        return
    if part.dv_dir:
        pos = _positions(part.dv_dir)
        if pos:
            # vectorized boolean mask — NEVER a per-row Python loop: one
            # tombstone on a 128 MB file would otherwise cost millions of
            # interpreted set-probes per batch, on exactly the
            # GDPR-erasure tables the DV feature targets
            mask = np.ones(tbl.num_rows, dtype=bool)
            idx = np.fromiter(pos, dtype=np.int64, count=len(pos))
            # out-of-range positions (corrupt/stale DV debris) are
            # tolerated exactly like the old per-row set-probe was: they
            # never matched a row then, they must not crash the read now
            mask[idx[(idx >= 0) & (idx < tbl.num_rows)]] = False
            tbl = tbl.filter(pa.array(mask))
    yield from _project(tbl, part.change)


def _live_file_partitions(
    table_dir: str, version: int, where: list[tuple] | None = None
) -> list[_FeedFile]:
    """One partition per LIVE data file of a committed version (DV
    attached where positions must be subtracted), optionally pruned by
    the manifest envelope/Bloom stats against pushed-down where-triples
    — a superset guarantee (pruning never drops a matching row; the
    engine still applies the exact filters to the surviving rows)."""
    from f1_data_pipeline_spark.storage import _entry_prunable

    m = snaplog.read_manifest(table_dir, version)
    dv = m.get("dv")
    dv_files = (dv or {}).get("files", {})
    dv_dir = snaplog.entry_uri(table_dir, dv["dir"]) if dv else None
    parts: list[_FeedFile] = []
    for entry in m["files"]:
        if not entry.get("rows", 0):
            continue
        if where and _entry_prunable(entry, where):
            continue
        key = entry["path"]
        parts.append(
            _FeedFile(
                snaplog.entry_uri(table_dir, entry["path"]),
                dv_dir if dv_files.get(key) else None,
                key,
                version=version,
            )
        )
    if not parts:
        parts.append(_FeedFile(None))  # zero-row scan, planner satisfied
    return parts


def _parse_ts_option(opt, name: str) -> float:
    """A timestamp option as unix seconds: a JSON/number literal passes
    through, an ISO-8601 string is UTC wall-clock when naive (the same
    frame commit records are stamped in — ``time.time()``)."""
    import datetime

    import math

    if isinstance(opt, (int, float)) and not isinstance(opt, bool):
        if not math.isfinite(float(opt)):
            raise ValueError(
                f"snapshotfeed: {name} must be a FINITE timestamp (got {opt!r})"
            )
        return float(opt)
    try:
        # DataSource options arrive as STRINGS — numeric-looking ones are
        # unix seconds (the commit-stamp form), everything else ISO-8601.
        # 'nan'/'inf' parse as floats but poison every >= comparison into
        # a silently-empty feed — refuse them like any malformed literal.
        # A small numeric string is NOT a plausible commit stamp ("2024"
        # as epoch 1970 would silently replay the full history) — those
        # fall through to the ISO parse (which rejects a bare year:
        # fromisoformat needs a full date) and land in the typed error
        # below, which names both interpretations.
        num = float(opt)
        if not math.isfinite(num):
            raise TypeError
        if num >= 1e9:  # ~2001-09; every real commit stamp clears this
            return num
    except (TypeError, ValueError):
        pass
    try:
        ts = datetime.datetime.fromisoformat(str(opt))
    except ValueError:
        raise ValueError(
            f"snapshotfeed: {name} must be an ISO-8601 timestamp or unix "
            f"seconds >= 1e9 (~2001-09 — smaller numbers are not "
            f"plausible commit stamps and are not treated as epoch "
            f"seconds; got {opt!r})"
        ) from None
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=datetime.timezone.utc)
    return ts.timestamp()


def _replay_span_partitions(
    table_dir: str,
    s: int,
    e: int,
    change_feed: bool,
    skip_changes: bool,
    exact: list[tuple],
    remedy: str,
) -> list[_FeedFile]:
    """Plan the commit-log replay of versions ``(s, e]`` as read
    partitions — the ONE implementation behind the streaming tail and the
    batch change feed: appended files emit as inserts, deletion-vector-
    only commits emit file-local DV diffs (deletes, plus restore-
    resurrected inserts) when ``change_feed``, maintenance commits emit
    nothing, and rewrite commits raise (``remedy`` names the consumer's
    way out) unless ``skip_changes``. Pure manifest JSON; no data IO."""
    from f1_data_pipeline_spark.storage import _entry_prunable

    parts: list[_FeedFile] = []
    for v in range(s + 1, e + 1):
        m = snaplog.read_manifest(table_dir, v)
        op = m.get("op")
        if op in _MAINTENANCE_OPS:
            continue  # content-preserving: nothing to emit
        # v=1 is table birth: its predecessor is the empty table
        prev = snaplog.read_manifest(table_dir, v - 1) if v > 1 else {"files": []}
        prev_paths = {x["path"] for x in prev["files"]}
        added = [x for x in m["files"] if x["path"] not in prev_paths]
        removed = prev_paths - {x["path"] for x in m["files"]}
        dv_changed = (m.get("dv") or None) != (prev.get("dv") or None)
        if (
            change_feed
            and (removed or dv_changed)
            and m.get("changes") is not None
        ):
            # the commit MATERIALIZED its change rows at write time (cdf
            # tables, Delta's enableChangeDataFeed trade — upsert/MERGE
            # keyed diffs, predicate-delete rows, restore multiset
            # diffs): the feed replays those files verbatim — one
            # partition per change file, rows already typed by
            # _change_type. The where option still filters exactly
            # executor-side (change entries carry no stats, so manifest
            # pruning conservatively keeps them all). Authoritative over
            # the DV-delta derivation below: same content, zero reads
            # outside _changes/.
            for entry in m["changes"]:
                if entry.get("rows", 0):
                    parts.append(
                        _FeedFile(
                            snaplog.entry_uri(table_dir, entry["path"]),
                            version=v,
                            change_file=True,
                        )
                    )
            continue
        if change_feed and dv_changed and not removed:
            # deletion-vector-only commit: the change IS file-local
            # (new tombstoned positions per file), so it streams as
            # delete rows — no rewrite to reconcile. One partition
            # per affected file; the executor diffs the two DV
            # datasets for its file and emits both directions
            # (delete for new tombstones; a restore that shrank a
            # DV resurfaces those rows as inserts).
            cur_dv, prev_dv = m.get("dv"), prev.get("dv")
            cur_counts = (cur_dv or {}).get("files", {})
            prev_counts = (prev_dv or {}).get("files", {})
            by_key = {x["path"]: x for x in m["files"]}
            cur_dir = snaplog.entry_uri(table_dir, cur_dv["dir"]) if cur_dv else None
            prev_dir = (
                snaplog.entry_uri(table_dir, prev_dv["dir"]) if prev_dv else None
            )
            for key in sorted(set(cur_counts) | set(prev_counts)):
                if (
                    op == "delete"
                    and cur_counts.get(key, 0) == prev_counts.get(key, 0)
                ):
                    # a DELETE commit only ADDS positions, so an
                    # unchanged count proves unchanged positions.
                    # A restore swaps the whole DV dataset and can
                    # preserve a count while changing positions —
                    # those files must be diffed, not skipped.
                    continue
                if key not in by_key:
                    continue  # file left the table in an earlier commit
                if exact and _entry_prunable(by_key[key], exact):
                    # superset guarantee holds for deltas too: a
                    # file no row of which can match the predicate
                    # can emit no matching delete/insert rows
                    continue
                parts.append(
                    _FeedFile(
                        snaplog.entry_uri(table_dir, by_key[key]["path"]),
                        cur_dir,
                        key,
                        version=v,
                        change="delete",
                        delta_from=prev_dir,
                        delta=True,
                    )
                )
            for entry in added:
                if entry.get("rows", 0) and not (
                    exact and _entry_prunable(entry, exact)
                ):
                    parts.append(
                        _FeedFile(
                            snaplog.entry_uri(table_dir, entry["path"]),
                            version=v,
                        )
                    )
            continue
        if removed or dv_changed:
            if skip_changes:
                continue
            raise ValueError(
                f"snapshotfeed: version {v} of {table_dir} is a "
                f"CHANGE commit (op={op or 'unknown'}; "
                f"{len(removed)} file(s) removed"
                f"{', deletion vector changed' if dv_changed else ''}) "
                f"— an append replay cannot reconcile a rewrite. "
                f"{remedy}"
            )
        for entry in added:
            if entry.get("rows", 0) and not (
                exact and _entry_prunable(entry, exact)
            ):
                parts.append(
                    _FeedFile(snaplog.entry_uri(table_dir, entry["path"]), version=v)
                )
    return parts


def _coerce_where_value(col: str, val, dtype):
    """Plan-time check/coercion of a where-triple literal against the
    column's DECLARED Spark type. JSON has no time types, so an ISO-8601
    string against a timestamp/date column — the natural encoding for
    time predicates — becomes a real ``datetime``/``date`` here (pyarrow
    comparisons never coerce str vs timestamp; without this the triple
    passed validation and then blew up inside an executor read). Any
    other cross-typed literal fails HERE, with the column named, matching
    how ``storage.snapshot_read`` lets ``F.lit`` coerce at plan time."""
    import datetime

    from pyspark.sql.types import (
        BooleanType,
        DateType,
        NumericType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    def bad(want: str) -> ValueError:
        return ValueError(
            f"snapshotfeed: where value {val!r} does not match column "
            f"{col!r} of type {dtype.simpleString()} — expected {want}"
        )

    if val is None:
        raise bad("a non-null literal (use is_null / is_not_null for NULL tests)")
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        if not isinstance(val, str):
            raise bad("an ISO-8601 timestamp string")
        try:
            ts = datetime.datetime.fromisoformat(val)
        except ValueError:
            raise bad("an ISO-8601 timestamp string") from None
        if ts.tzinfo is not None:
            # the where contract is UTC WALL-CLOCK naive timestamps: the
            # engine's fixed config pins spark.sql.session.timeZone=UTC,
            # manifest stats are stored as naive ISO strings in that
            # frame, and the exact Arrow tier interprets a naive literal
            # against a tz-aware column as UTC — one frame on every tier.
            # An offset-carrying literal would need per-tier conversion
            # the stats cannot express; refuse it rather than guess.
            raise bad(
                "a NAIVE (no UTC offset) ISO-8601 timestamp in UTC "
                "wall-clock (the engine pins the session timezone to UTC)"
            )
        return ts
    if isinstance(dtype, DateType):
        if not isinstance(val, str):
            raise bad("an ISO-8601 date string")
        try:
            return datetime.date.fromisoformat(val)
        except ValueError:
            raise bad("an ISO-8601 date string") from None
    if isinstance(dtype, BooleanType):
        if isinstance(val, bool):
            return val
        raise bad("a JSON boolean")
    if isinstance(dtype, NumericType):
        if isinstance(val, (int, float)) and not isinstance(val, bool):
            return val
        raise bad("a JSON number")
    if isinstance(dtype, StringType):
        if isinstance(val, str):
            return val
        raise bad("a JSON string")
    raise ValueError(
        f"snapshotfeed: where predicates are not supported on column "
        f"{col!r} of type {dtype.simpleString()} (numeric, string, "
        f"boolean, date and timestamp columns only)"
    )


def _parse_where_option(opt, schema) -> list[tuple]:
    """Parse the ``where`` OPTION (a JSON array of ``snapshot_read``-style
    triples, e.g. ``[["event_id", ">=", 100]]``) and validate it against
    the declared data schema — a typo'd column or op must fail at plan
    time, not silently prune nothing."""
    from f1_data_pipeline_spark.storage import _WHERE_OPS

    if not opt:
        return []
    try:
        triples = json.loads(opt)
    except (TypeError, ValueError) as e:
        raise ValueError(
            f"snapshotfeed: the where option must be a JSON array of "
            f"[column, op, value] triples (got {opt!r}): {e}"
        ) from None
    types = {f.name: f.dataType for f in schema.fields}
    out = []
    for t in triples:
        if not (isinstance(t, (list, tuple)) and len(t) == 3):
            raise ValueError(
                f"snapshotfeed: malformed where triple {t!r} — expected "
                f"[column, op, value]"
            )
        col, op, val = t
        if op not in _WHERE_OPS:
            raise ValueError(
                f"snapshotfeed: unsupported where op {op!r} (supported: "
                f"{_WHERE_OPS})"
            )
        if col not in types:
            raise ValueError(
                f"snapshotfeed: where references unknown column {col!r} "
                f"(table columns: {sorted(types)})"
            )
        if op == "in":
            if not isinstance(val, list) or not val:
                raise ValueError(
                    f"snapshotfeed: where op 'in' needs a non-empty JSON "
                    f"array of values for column {col!r} (got {val!r}) — "
                    f"NULL tests go through is_null"
                )
            val = tuple(
                _coerce_where_value(col, v, types[col]) for v in val
            )
        elif op not in ("is_null", "is_not_null"):
            val = _coerce_where_value(col, val, types[col])
        out.append((col, op, val))
    return out


class SnapshotFeedBatchReader(DataSourceReader):
    """BATCH reader for snapshot tables through the standard source API:
    ``spark.read.format("snapshotfeed").load(dir)`` (and therefore plain
    SQL: ``CREATE TEMPORARY VIEW t USING snapshotfeed OPTIONS (path
    ...)``) — the same live-row semantics as ``storage.snapshot_read``,
    with ``version=N`` time travel and pushed-down filters pruned at the
    MANIFEST level (min/max envelopes + per-file Bloom probes) before
    any file is listed or opened. Pruning is a superset guarantee, so
    every pushed filter is returned to the engine for exact re-apply —
    the same contract parquet's PushedFilters carry."""

    def __init__(self, schema, options):
        path = options.get("path")
        if not path:
            raise ValueError(
                "snapshotfeed requires a table dir: .load('/path/to/table')"
            )
        self._dir = _norm_dir(path)
        v = options.get("version")
        self._version = int(v) if v is not None else None
        self._schema_json = schema.json()
        # option-where: pruned at the manifest level AND applied exactly
        # executor-side (the engine re-applies pushed-down filters, but
        # never a source option)
        self._exact = _parse_where_option(options.get("where"), schema)
        self._where: list[tuple] = list(self._exact)

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        ops = {
            EqualTo: "=",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if isinstance(attr, tuple) and len(attr) == 1 else None
            if col is not None:
                if type(f) in ops:
                    self._where.append((col, ops[type(f)], f.value))
                elif isinstance(f, IsNull):
                    self._where.append((col, "is_null", None))
                elif isinstance(f, IsNotNull):
                    self._where.append((col, "is_not_null", None))
            # ALL filters go back to the engine: manifest pruning is a
            # superset guarantee, never an exact evaluation
            yield f

    def partitions(self):
        latest = snaplog.latest_version(self._dir)
        if latest < 1:
            raise FileNotFoundError(
                f"snapshotfeed: no committed snapshot in {self._dir}"
            )
        v = self._version if self._version is not None else latest
        return _live_file_partitions(self._dir, v, self._where)

    def read(self, part: _FeedFile):
        yield from _read_file(part, self._schema_json, False, self._exact)


class SnapshotFeedChangesReader(DataSourceReader):
    """BATCH change feed (Delta's ``table_changes`` shape):
    ``spark.read.format("snapshotfeed").option("changeFeed", "true")
    .option("startingVersion", s)[.option("endingVersion", e)]`` — and
    therefore plain SQL through a ``USING snapshotfeed`` view — returns
    the CDC rows (``_change_type``/``_commit_version``) for every
    data-changing commit in ``[startingVersion, endingVersion]``
    (endingVersion defaults to the current version). Planning is the
    same manifest-only replay the streaming changeFeed uses
    (``_replay_span_partitions``): appends emit inserts, DV-only commits
    emit file-local position diffs (deletes + restore-resurrected
    inserts), maintenance commits emit nothing, rewrite commits raise
    unless ``skipChangeCommits=true``. The ``where`` option prunes and
    filters exactly as on the stream."""

    def __init__(self, schema, options):
        from pyspark.sql.types import StructType

        path = options.get("path")
        if not path:
            raise ValueError(
                "snapshotfeed requires a table dir: .load('/path/to/table')"
            )
        self._dir = _norm_dir(path)
        self._schema_json = schema.json()
        sv = options.get("startingversion", options.get("startingVersion"))
        st = options.get("startingtimestamp", options.get("startingTimestamp"))
        if sv is not None and st is not None:
            raise ValueError(
                "snapshotfeed: startingVersion and startingTimestamp are "
                "mutually exclusive"
            )
        if sv is None and st is None:
            raise ValueError(
                "snapshotfeed: a batch changeFeed read needs "
                "startingVersion or startingTimestamp (the ending bound "
                "is optional, default latest) — a plain batch read of a "
                "snapshot is all inserts by definition; omit changeFeed "
                "for that"
            )
        self._start = int(sv) if sv is not None else None
        self._start_ts = (
            _parse_ts_option(st, "startingTimestamp") if st is not None else None
        )
        ev = options.get("endingversion", options.get("endingVersion"))
        et = options.get("endingtimestamp", options.get("endingTimestamp"))
        if ev is not None and et is not None:
            raise ValueError(
                "snapshotfeed: endingVersion and endingTimestamp are "
                "mutually exclusive"
            )
        self._end = int(ev) if ev is not None else None
        self._end_ts = (
            _parse_ts_option(et, "endingTimestamp") if et is not None else None
        )
        if options.get("version") is not None:
            raise ValueError(
                "snapshotfeed: version= time travel and changeFeed= are "
                "mutually exclusive — a change feed IS a version range"
            )
        self._skip_changes = str(
            options.get("skipchangecommits", options.get("skipChangeCommits", "false"))
        ).lower() in ("true", "1")
        data_schema = StructType(
            [
                f
                for f in schema.fields
                if f.name not in ("_change_type", "_commit_version")
            ]
        )
        self._exact = _parse_where_option(options.get("where"), data_schema)

    def partitions(self):
        latest = snaplog.latest_version(self._dir)
        if latest < 1:
            raise FileNotFoundError(
                f"snapshotfeed: no committed snapshot in {self._dir}"
            )
        ck = (
            snaplog.read_checkpoint(self._dir)
            if (self._start_ts is not None or self._end_ts is not None)
            else None
        )
        s = self._start
        if s is None:
            # first commit at-or-after the instant (Delta startingTimestamp)
            s = snaplog.version_asof(
                self._dir, self._start_ts, after=True, latest=latest, ck=ck
            )
        e = self._end
        if e is None:
            e = (
                latest
                if self._end_ts is None
                # last commit at-or-before the instant (TIMESTAMP AS OF)
                else snaplog.version_asof(
                    self._dir, self._end_ts, after=False, latest=latest, ck=ck
                )
            )
        if s == latest + 1 and s > e:
            # every commit predates startingTimestamp: an EMPTY feed, not
            # an error — the caller asked for "changes since ts" and the
            # honest answer is "none yet"
            return [_FeedFile(None)]
        if not (1 <= s <= e <= latest):
            raise ValueError(
                f"snapshotfeed: changeFeed range [{s}, {e}] is invalid "
                f"for a table at version {latest} — need 1 <= start <= "
                f"end <= latest (timestamp bounds resolve against commit "
                f"times first)"
            )
        if s > 1:
            # the replay diffs version s against s-1's manifest, so the
            # effective CDF floor is ONE ABOVE the oldest retained
            # version (the checkpoint log keeps summaries, not file
            # lists — the base file-set is not reconstructible). Probe
            # the base up front so the error names the real limit
            # instead of surfacing as a confusing miss on a version the
            # caller never asked for.
            try:
                snaplog.read_manifest(self._dir, s - 1)
            except FileNotFoundError:
                raise FileNotFoundError(
                    f"snapshotfeed: changeFeed from version {s} needs "
                    f"version {s - 1}'s manifest as its diff base, and "
                    f"that record is no longer available (most likely "
                    f"snapshot_expire_log retention). The effective "
                    f"changeFeed floor is oldest-retained-version + 1 — "
                    f"raise startingVersion by one, or raise the "
                    f"table's keep_last if readers need this span"
                ) from None
        parts = _replay_span_partitions(
            self._dir,
            s - 1,
            e,
            True,
            self._skip_changes,
            self._exact,
            remedy=(
                "Read the post-rewrite state with a plain batch read "
                "(version=N time travel), set skipChangeCommits=true to "
                "skip such commits, or enable change-file materialization "
                "on the table (snapshot_write change_files=True) so "
                "future rewrites read as CDC rows."
            ),
        )
        return parts or [_FeedFile(None)]

    def read(self, part: _FeedFile):
        yield from _read_file(part, self._schema_json, True, self._exact)


class SnapshotFeedStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options):
        path = options.get("path")
        if not path:
            raise ValueError(
                "snapshotfeed requires a table dir: .load('/path/to/table')"
            )
        self._dir = _norm_dir(path)
        self._schema_json = schema.json()
        sv = options.get("startingversion", options.get("startingVersion"))
        self._starting = int(sv) if sv is not None else None
        st = options.get("startingtimestamp", options.get("startingTimestamp"))
        if st is not None and self._starting is not None:
            raise ValueError(
                "snapshotfeed: startingVersion and startingTimestamp are "
                "mutually exclusive"
            )
        # resolved lazily at initialOffset (the table may gain commits
        # between reader construction and the first planning call)
        self._starting_ts = (
            _parse_ts_option(st, "startingTimestamp") if st is not None else None
        )
        self._skip_changes = str(
            options.get("skipchangecommits", options.get("skipChangeCommits", "false"))
        ).lower() in ("true", "1")
        mv = options.get("maxversionsperbatch", options.get("maxVersionsPerBatch"))
        self._max_versions = int(mv) if mv else None
        if self._max_versions is not None and self._max_versions < 1:
            raise ValueError("snapshotfeed: maxVersionsPerBatch must be >= 1")
        mb = options.get("maxbytesperbatch", options.get("maxBytesPerBatch"))
        self._max_bytes = int(mb) if mb else None
        if self._max_bytes is not None and self._max_bytes < 1:
            raise ValueError("snapshotfeed: maxBytesPerBatch must be >= 1")
        # RESTART HOLE, and the opt-in that closes it: the engine never
        # reveals the committed offset to a restarted reader (latestOffset
        # is argument-less in the Python source API), so without state of
        # our own the caps above are inert on the FIRST trigger of a new
        # run — a restarted stream facing an accumulated backlog admits
        # it all in one unpaced batch. pacingStateDir names a per-query
        # directory (point it INSIDE the query's checkpoint dir so their
        # lifecycles match) where partitions() persists the last planned
        # end; a new run recovers it and paces its first batch too, the
        # cited Delta maxBytesPerTrigger behavior. Without the option the
        # first-batch hole stands, documented here and in COVERAGE.md.
        pd_opt = options.get("pacingstatedir", options.get("pacingStateDir"))
        self._pacing_dir = _norm_dir(pd_opt) if pd_opt else None
        self._change_feed = str(
            options.get("changefeed", options.get("changeFeed", "false"))
        ).lower() in ("true", "1")
        if self._change_feed:
            names = [f.name for f in schema.fields]
            if "_change_type" not in names or "_commit_version" not in names:
                raise ValueError(
                    "snapshotfeed: changeFeed=true needs _change_type and "
                    "_commit_version in the schema (omit .schema() — the "
                    "source declares them itself)"
                )
        # where: a FILTERED feed — non-matching files skip at the
        # manifest level (never opened), surviving files filter exactly
        # executor-side. Predicates address DATA columns, never the
        # change-feed metadata (those are appended after filtering).
        from pyspark.sql.types import StructType

        data_schema = StructType(
            [
                f
                for f in schema.fields
                if f.name not in ("_change_type", "_commit_version")
            ]
        )
        self._exact = _parse_where_option(options.get("where"), data_schema)
        self._last_end: int | None = None
        if self._pacing_dir:
            self._last_end = self._recover_cursor()

    # The pacing cursor is VALUE-ADDRESSED: each planned batch end N
    # writes its own marker `cursor.<N zero-padded>.json`, prunes
    # strictly-smaller markers, then re-lists and deletes its OWN marker
    # if a higher one appeared meanwhile (the laggard self-prunes);
    # recovery takes the max. Monotone BY CONSTRUCTION under any
    # interleaving — a read-compare-write single file had a race window
    # (laggard reads stale, overwrites the leader's higher value AFTER
    # it, found by the threaded stress test) whose consequence is exactly
    # the offset regression the option must never cause. Markers with the
    # same N are byte-identical, so concurrent same-value writes are
    # harmless on any store. Only the max survives every interleaving:
    # a stale marker M is deleted either by a higher writer's prune (when
    # M existed at its listing) or by M's own self-prune (when the higher
    # marker existed at M's re-list) — one of the two always holds,
    # because M's write precedes M's re-list and the higher write
    # precedes the higher prune's listing.

    def _cursor_markers(self) -> list[tuple[int, str]]:
        out = []
        for info in snaplog.listdir(self._pacing_dir):
            name = info.base_name
            if name.startswith("cursor.") and name.endswith(".json"):
                mid = name[len("cursor."):-len(".json")]
                if mid.isdigit():
                    out.append((int(mid), info.path))
        return sorted(out)

    def _recover_cursor(self) -> int | None:
        """The highest pacing marker a previous run's ``partitions()``
        persisted — None when absent, torn, or written for a different
        table (each falls back to the pre-option unpaced first batch).
        Pacing is admission CONTROL, never a correctness dependency: the
        marker set is append-only-upward, so a recovered value can never
        sit behind an offset the engine already committed —
        ``latestOffset`` built on it can cap, but never regress."""
        try:
            markers = self._cursor_markers()
            if not markers:
                return None
            end, path = markers[-1]
            f, _ = snaplog.resolve(self._pacing_dir)
            with f.open_input_stream(path) as s:
                cur = json.loads(s.read())
            if cur.get("table") != self._dir:
                return None
            return end
        except Exception:
            return None

    def _persist_cursor(self, end: int) -> None:
        """Record the batch end ``partitions()`` just planned as a
        value-addressed marker (see the block comment above), then prune
        markers below it. A torn marker body is ignored on recovery
        (unpaced first batch, never a wrong offset). Failures raise — a
        misconfigured pacingStateDir should fail the query loudly, not
        silently disable the pacing it was set up for."""
        f, root = snaplog.resolve(self._pacing_dir)
        f.create_dir(root, recursive=True)
        own = f"{root}/cursor.{int(end):020d}.json"
        with f.open_output_stream(own) as s:
            s.write(
                json.dumps({"table": self._dir, "end": int(end)}).encode()
            )
        higher = False
        for n, path in self._cursor_markers():
            if n < int(end):
                try:
                    f.delete_file(path)
                except FileNotFoundError:
                    pass  # a concurrent higher writer pruned it first
            elif n > int(end):
                higher = True
        if higher:
            # a higher writer landed between our write and the re-list:
            # our marker is stale and that writer's prune listing may
            # have missed it — self-prune so only the max survives
            # (recovery takes the max, so deleting a lower marker is
            # always safe)
            try:
                f.delete_file(own)
            except FileNotFoundError:
                pass  # the higher writer's prune got there first

    def _drop_cursor(self) -> None:
        """Invalidate the persisted pacing cursor — called from
        ``initialOffset``, which the engine only invokes on a FRESH
        checkpoint: a cursor from a previous checkpoint lifecycle must not
        pace (or point at retention-expired versions for) a new stream."""
        self._last_end = None
        try:
            f, _ = snaplog.resolve(self._pacing_dir)
            for _n, path in self._cursor_markers():
                try:
                    f.delete_file(path)
                except FileNotFoundError:
                    pass
        except Exception:
            pass

    # -- driver-side planning (manifest JSON only, no data IO) ----------

    def initialOffset(self) -> dict:
        if self._pacing_dir:
            # the engine calls initialOffset only on a FRESH checkpoint:
            # any recovered cursor belongs to a previous checkpoint
            # lifecycle (stale pacingStateDir) and must not pace this run
            # (note: the engine's first latestOffset call precedes this
            # one, so a stale cursor can still cap the FIRST batch's end
            # — capping below latest is a correct, if older, snapshot
            # baseline; it can never sit behind a committed offset,
            # because a fresh checkpoint has none)
            self._drop_cursor()
        latest = snaplog.latest_version(self._dir)
        if latest < 1:
            raise FileNotFoundError(
                f"snapshotfeed: no committed snapshot in {self._dir}"
            )
        if self._starting_ts is not None:
            # the Delta startingTimestamp shape: replay every commit made
            # at-or-after the instant; all-older tables start at the next
            # commit (latest+1 is valid for startingVersion too)
            v = snaplog.version_asof(
                self._dir,
                self._starting_ts,
                after=True,
                latest=latest,
                ck=snaplog.read_checkpoint(self._dir),
            )
            return {"version": v - 1, "mode": "replay"}
        if self._starting is not None:
            if self._starting < 1:
                raise ValueError(
                    "snapshotfeed: startingVersion must be >= 1 (omit it "
                    "for the initial-snapshot-then-tail default)"
                )
            if self._starting > latest + 1:
                # accepting a future start would commit end=latest on the
                # first (empty) batch, and the versions between latest+1
                # and startingVersion-1 would later stream DESPITE being
                # before the requested start — refuse, like Delta
                raise ValueError(
                    f"snapshotfeed: startingVersion={self._starting} is "
                    f"beyond the table's latest version {latest} "
                    f"(latest+1 — start-at-next-commit — is the maximum)"
                )
            return {"version": self._starting - 1, "mode": "replay"}
        return {"version": 0, "mode": "snapshot"}

    def latestOffset(self) -> dict:
        cur = snaplog.latest_version(self._dir)
        # cap only against a KNOWN cursor — set by this run's previous
        # partitions() call, or recovered from pacingStateDir (where the
        # previous run's partitions() persisted it, so it is never behind
        # a committed offset). Guessing a floor here could return an
        # offset BEHIND the engine's committed checkpoint, which it
        # would commit and then re-deliver the gap — never regress.
        if self._max_versions is not None and self._last_end is not None:
            cur = min(cur, self._last_end + self._max_versions)
        if self._max_bytes is not None and self._last_end is not None:
            # byte-based admission control (Delta's maxBytesPerTrigger,
            # in manifest-recorded APPENDED bytes): extend the span one
            # version at a time until the NEXT version would blow the
            # budget; always admit at least one version so the stream
            # can't stall on a single oversized commit. Maintenance
            # commits count zero — their added files (e.g. optimize's
            # packed rewrites) never stream. Cost: tail-bounded manifest
            # JSON reads, the same records partitions() reads anyway.
            total, v = 0, self._last_end
            prev = None  # carried forward: one manifest read per version
            while v < cur:
                m = snaplog.read_manifest(self._dir, v + 1)
                if m.get("op") in _MAINTENANCE_OPS:
                    v += 1
                    prev = m
                    continue
                if prev is None:
                    prev = (
                        snaplog.read_manifest(self._dir, v)
                        if v > 0
                        else {"files": []}
                    )
                prev_paths = {x["path"] for x in prev["files"]}
                if self._change_feed and m.get("changes") is not None:
                    # a materialized-CDF rewrite streams its change
                    # files, not its staged data files — budget the
                    # bytes the batch will actually read (a COW delete
                    # can stage MBs of survivors yet stream KBs of
                    # delete rows)
                    added = sum(x.get("bytes", 0) for x in m["changes"])
                else:
                    added = sum(
                        x.get("bytes", 0)
                        for x in m["files"]
                        if x["path"] not in prev_paths
                    )
                if total > 0 and total + added > self._max_bytes:
                    break
                total += added
                v += 1
                prev = m
            cur = max(v, self._last_end + 1) if cur > self._last_end else cur
        return {"version": cur, "mode": "replay"}

    def partitions(self, start: dict, end: dict) -> list[_FeedFile]:
        s, e = int(start["version"]), int(end["version"])
        prior = self._last_end
        self._last_end = e
        parts: list[_FeedFile] = []
        if start.get("mode") == "snapshot":
            # initial batch: the FULL live table at version e (DV-aware),
            # manifest-pruned by the where option when one is set
            parts.extend(
                p
                for p in _live_file_partitions(self._dir, e, self._exact or None)
                if p.path is not None
            )
        else:
            parts.extend(
                _replay_span_partitions(
                    self._dir,
                    s,
                    e,
                    self._change_feed,
                    self._skip_changes,
                    self._exact,
                    remedy=(
                        "Restart the stream with a fresh checkpoint (the "
                        "initial snapshot re-baselines), set "
                        "skipChangeCommits=true to skip such commits, or "
                        "enable change-file materialization on the table "
                        "(snapshot_write change_files=True) so future "
                        "rewrites stream as CDC rows (changeFeed=true)."
                    ),
                )
            )
        if not parts:
            # an all-maintenance (or empty-append) span still runs as a
            # zero-row batch; a sentinel keeps the planner satisfied
            parts.append(_FeedFile(None))
        if self._pacing_dir and (prior is None or e > prior):
            # monotonic: a replayed (restart-re-run) batch never moves the
            # cursor backward, so recovery can never under-read the log.
            # Persisted only AFTER the span planned successfully — a batch
            # whose planning raises (e.g. a rewrite-commit refusal) must
            # not advance the cursor, or a restarted run would be paced
            # against a never-planned span.
            self._persist_cursor(e)
        return parts

    def commit(self, end: dict) -> None:
        pass  # offsets live in the engine's checkpoint; nothing to clean

    # -- executor-side read: one parquet file -> Arrow batches ----------

    def read(self, part: _FeedFile):
        yield from _read_file(
            part, self._schema_json, self._change_feed, self._exact
        )


# --------------------------------------------------------------------------
# WRITE surface: the Python DataSource writer protocol, so plain SQL
# (`INSERT INTO view`, `INSERT OVERWRITE view`), `df.write.format(
# "snapshotfeed")` and `df.writeStream.format("snapshotfeed")` commit
# snapshot versions directly — append semantics = storage.snapshot_append
# (carried files by reference, O(new rows)/commit), overwrite semantics =
# storage.snapshot_write (full replace). Tasks write one parquet file each
# into a hidden staging dir (Arrow-side, with per-file min/max/null stats);
# the driver-side commit moves them under `v=N/` and publishes the
# manifest with the SAME atomic create-no-overwrite protocol storage.py
# uses (hard-link publish on local paths; object stores keep the
# documented single-writer caveat). Tables carrying Bloom specs refuse
# this path loudly — Bloom filters need a Spark build, which
# storage.snapshot_append provides — rather than silently committing
# unindexed files; so does an overwrite of a change-data-feed table,
# whose netted replace diff needs storage.snapshot_write. The record
# itself comes from snaplog.next_record, so an append carries every
# table-level field.
# --------------------------------------------------------------------------

_STAGING = "_staging"

# arrow types whose min/max agree with Spark's ordering semantics (floats
# excluded when NaN is present — Spark orders NaN above all values, Arrow
# propagates it — so a NaN file simply omits that column's stats: every
# stats consumer treats MISSING stats as unprunable/unprovable, never wrong)


def _arrow_stats(tbl) -> dict:
    """Per-column ``{min, max, nulls}`` for one staged Arrow table — in
    manifest form (``snaplog.canon_stat``: Spark hands the writer
    tz-aware timestamps) and only for columns whose Arrow ordering
    matches Spark's; unsafe columns are omitted."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = {}
    for name in tbl.column_names:
        col = tbl[name]
        t = col.type
        ok = (
            pa.types.is_integer(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_boolean(t)
            or pa.types.is_date(t)
            or pa.types.is_timestamp(t)
            or pa.types.is_decimal(t)
            or pa.types.is_floating(t)
        )
        if not ok:
            continue
        nulls = int(col.null_count)
        if nulls == len(col):
            out[name] = {"min": None, "max": None, "nulls": nulls}
            continue
        if pa.types.is_floating(t) and pc.any(
            pc.is_nan(pc.drop_null(col))
        ).as_py():
            continue  # NaN breaks min/max parity with Spark: omit, stay safe
        mm = pc.min_max(col)
        out[name] = {
            "min": snaplog.canon_stat(mm["min"].as_py()),
            "max": snaplog.canon_stat(mm["max"].as_py()),
            "nulls": nulls,
        }
    return out


@dataclass
class _StagedFile(WriterCommitMessage):
    # the staging subdir travels IN the message: the engine constructs
    # writer instances independently on the driver and on each task
    # process (observed), so instance state like a random uuid does NOT
    # survive from write() to commit()
    name: str | None = None
    subdir: str | None = None
    rows: int = 0
    nbytes: int = 0
    stats: dict = field(default_factory=dict)


def _writer_target_schema(schema_json: str):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    target = to_arrow_schema(StructType.fromJson(json.loads(schema_json)))
    return pa.schema([f.with_nullable(True) for f in target])


def _write_staged_file(table_dir: str, subdir: str, it, schema_json: str):
    """Executor side: drain one task's RecordBatches into ONE parquet file
    under the staging dir; returns the commit message (no file for an
    empty task)."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    target = _writer_target_schema(schema_json)
    batches = []
    for b in it:
        if b.num_rows:
            batches.append(b.cast(target) if b.schema != target else b)
    if not batches:
        return _StagedFile()
    tbl = pa.Table.from_batches(batches, schema=target)
    f, root = snaplog.resolve(table_dir)
    sdir = f"{root.rstrip('/')}/{_STAGING}/{subdir}"
    f.create_dir(sdir, recursive=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    with f.open_output_stream(f"{sdir}/{name}") as out:
        pq.write_table(tbl, out)
    info = f.get_file_info(f"{sdir}/{name}")
    nbytes = int(info.size) if info.type != pafs.FileType.NotFound else 0
    return _StagedFile(name, subdir, tbl.num_rows, nbytes, _arrow_stats(tbl))


def _require_atomic_store(path: str, caller: str) -> None:
    """The multiWriter=true plan-time gate: refuse typed on stores whose
    commit publication is check-then-write (no conditional PUT through
    pyarrow.fs) — concurrent commits there can silently overwrite each
    other, exactly the lost-update the option exists to rule out."""
    sch = snaplog.scheme(path)
    if sch in snaplog.ATOMIC_SCHEMES:
        return
    raise ValueError(
        f"{caller}: multiWriter=true requires a store with an atomic "
        f"create-no-overwrite — local/file: paths (hard-link publish). "
        f"{sch}:// offers no conditional PUT through this writer, so "
        f"concurrent commits could silently lose updates. Coordinate "
        f"writers externally and drop the option, or point the table at "
        f"a posix dir"
    )


def _commit_staged(
    table_dir: str,
    schema_json: str,
    messages,
    overwrite: bool,
    txn_app: str | None = None,
    txn_batch: int | None = None,
) -> int | None:
    """Driver-side commit of the staged files as one snapshot version;
    returns the committed version (None when a txn stamp proves this
    batch already landed — the streaming replay case). Runs in the
    driver's Python worker, which has no SparkSession — all IO is
    pyarrow.fs, all decisions manifest JSON."""
    import time

    from pyspark.sql.types import StructType

    files = [m for m in messages if m is not None and m.name]
    f, root = snaplog.resolve(table_dir)
    write_schema = StructType.fromJson(json.loads(schema_json))
    write_types = {x.name: x.dataType.simpleString() for x in write_schema.fields}

    for attempt in range(25):
        latest = snaplog.latest_version(table_dir)
        cur = snaplog.read_manifest(table_dir, latest) if latest >= 1 else None
        if cur is not None:
            # txn replay gate FIRST (SetTransaction semantics): a batchId
            # at or below the stamped watermark already committed — skip
            # before ANY refusal check, or a post-crash schema/bloom
            # change would permanently fail a replayed batch that
            # needs no write at all
            if txn_app is not None and txn_batch is not None:
                stamped = ((cur.get("properties") or {}).get("txn") or {}).get(
                    txn_app
                )
                if stamped is not None and int(stamped) >= int(txn_batch):
                    for m in files:
                        f.delete_file(
                            f"{root.rstrip('/')}/{_STAGING}/{m.subdir}/{m.name}"
                        )
                    return None
            if overwrite and cur.get("cdf"):
                raise ValueError(
                    "snapshotfeed writer: the table records a change data "
                    "feed, and a replace must materialize its netted diff "
                    "of old vs new rows, which needs a SparkSession this "
                    "writer does not have — replace the table through "
                    "storage.snapshot_write instead"
                )
            if not overwrite and cur.get("bloom_spec"):
                raise ValueError(
                    "snapshotfeed writer: the table carries a Bloom-filter "
                    "spec; appending unindexed files would silently break "
                    "point-lookup skipping — write through "
                    "storage.snapshot_append instead"
                )
            if not overwrite:
                table_types = {
                    x.name: x.dataType.simpleString()
                    for x in StructType.fromJson(json.loads(cur["schema"])).fields
                }
                if table_types != write_types:
                    raise ValueError(
                        f"snapshotfeed writer: batch schema {write_types} "
                        f"does not match the committed table schema "
                        f"{table_types} — cast/align the batch (the SQL "
                        f"writer does not evolve schemas; use "
                        f"storage.snapshot_append(evolve_schema=True))"
                    )
        version = latest + 1
        vdir = f"{root.rstrip('/')}/v={version}"
        try:
            snaplog.claim_version(table_dir, version, "snapshotfeed writer")
        except SnapshotConflictError:
            # a concurrent writer is staging this version (or a crashed
            # one left an orphan): wait for its commit to move `latest`
            # forward, then retry; persistent orphans surface below
            if attempt + 1 >= 25:
                raise RuntimeError(
                    f"snapshotfeed writer: staging dir v={version} already "
                    f"exists under {table_dir} — if "
                    f"_manifests/{version}.json is absent, it is a crashed "
                    f"writer's orphan: run storage.snapshot_clean_orphans("
                    f"spark, table_dir) (it also sweeps leftover _staging "
                    f"files), then retry the write"
                ) from None
            time.sleep(0.05 * (attempt + 1))
            continue
        for m in files:
            f.move(
                f"{root.rstrip('/')}/{_STAGING}/{m.subdir}/{m.name}",
                f"{vdir}/{m.name}",
            )
        with f.open_output_stream(f"{vdir}/_SUCCESS") as out:
            out.write(b"")
        # an append derives from the head record; a full replace starts
        # fresh, with stats on every safely-computable column
        parent = None if overwrite else cur
        tracked = snaplog.tracked_stats(parent["files"]) if parent else None
        entries = []
        for m in sorted(files, key=lambda m: m.name):
            e = {"path": f"v={version}/{m.name}", "rows": m.rows, "bytes": m.nbytes}
            stats = (
                m.stats
                if tracked is None
                else {c: m.stats[c] for c in tracked if c in m.stats}
            )
            if stats:
                e["stats"] = stats
            entries.append(e)
        record = snaplog.next_record(
            parent, version, "write" if overwrite else "append",
            entries if parent is None else parent["files"] + entries,
            properties=(
                {"txn": {txn_app: int(txn_batch)}}
                if txn_app is not None and txn_batch is not None
                else None
            ),
            staged_schema=schema_json,
        )
        try:
            snaplog.commit(table_dir, version, record)
        except SnapshotConflictError:
            # lost the publish race (e.g. a metadata-only commit took N):
            # move our files back to staging and re-derive against the head
            for m in files:
                f.move(
                    f"{vdir}/{m.name}",
                    f"{root.rstrip('/')}/{_STAGING}/{m.subdir}/{m.name}",
                )
            f.delete_dir(vdir)
            time.sleep(0.05 * (attempt + 1))
            continue
        return version
    raise RuntimeError(
        f"snapshotfeed writer: lost {25} consecutive commit races under "
        f"{table_dir} — a runaway concurrent writer?"
    )


def _abort_staged(table_dir: str, messages) -> None:
    f, root = snaplog.resolve(table_dir)
    for m in messages or []:
        if m is not None and getattr(m, "name", None):
            try:
                f.delete_file(
                    f"{root.rstrip('/')}/{_STAGING}/{m.subdir}/{m.name}"
                )
            except FileNotFoundError:
                pass


class SnapshotFeedWriter(DataSourceArrowWriter):
    """Batch writer: ``df.write.format('snapshotfeed').mode('append'|
    'overwrite').save(dir)`` and SQL ``INSERT INTO`` / ``INSERT
    OVERWRITE`` on a ``USING snapshotfeed`` view."""

    def __init__(self, schema, options, overwrite: bool):
        import uuid

        path = options.get("path")
        if not path:
            raise ValueError(
                "snapshotfeed requires a table dir: .save('/path/to/table')"
            )
        self._dir = _norm_dir(path)
        if str(
            options.get("multiwriter", options.get("multiWriter", "false"))
        ).lower() in ("true", "1"):
            # the option is a DECLARATION of concurrent writers: refuse at
            # plan time on stores where the commit cannot be an atomic
            # claim, instead of hiding the caveat in a docstring
            _require_atomic_store(self._dir, "snapshotfeed writer")
        self._schema_json = schema.json()
        self._overwrite = overwrite
        self._subdir = f"dsw-{uuid.uuid4().hex}"

    def write(self, iterator):
        return _write_staged_file(
            self._dir, self._subdir, iterator, self._schema_json
        )

    def commit(self, messages):
        _commit_staged(self._dir, self._schema_json, messages, self._overwrite)

    def abort(self, messages):
        _abort_staged(self._dir, messages)


class SnapshotFeedStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink: ``df.writeStream.format('snapshotfeed')`` — one
    append commit per micro-batch. With ``txnAppId`` set, the batch id is
    stamped into the commit's ``txn`` properties ATOMICALLY with the data
    (SetTransaction semantics, interoperable with
    ``streaming.stream_snapshot_append``'s stamps), so a crash-replayed
    micro-batch proves itself already applied and skips — exactly-once.
    Without it, delivery is at-least-once under crash replay (documented
    Delta-sink behavior without txn tracking)."""

    def __init__(self, schema, options):
        import uuid

        path = options.get("path")
        if not path:
            raise ValueError(
                "snapshotfeed requires a table dir: .start('/path/to/table')"
            )
        self._dir = _norm_dir(path)
        if str(
            options.get("multiwriter", options.get("multiWriter", "false"))
        ).lower() in ("true", "1"):
            _require_atomic_store(self._dir, "snapshotfeed stream writer")
        self._schema_json = schema.json()
        self._subdir = f"dsw-{uuid.uuid4().hex}"
        self._txn_app = options.get("txnappid", options.get("txnAppId"))

    def write(self, iterator):
        return _write_staged_file(
            self._dir, self._subdir, iterator, self._schema_json
        )

    def commit(self, messages, batchId: int):
        _commit_staged(
            self._dir,
            self._schema_json,
            messages,
            False,
            txn_app=self._txn_app,
            txn_batch=batchId if self._txn_app else None,
        )

    def abort(self, messages, batchId: int):
        _abort_staged(self._dir, messages)


class SnapshotFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "snapshotfeed"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError(
                "snapshotfeed requires a table dir: .load('/path/to/table')"
            )
        tdir = _norm_dir(path)
        latest = snaplog.latest_version(tdir)
        if latest < 1:
            raise FileNotFoundError(f"snapshotfeed: no committed snapshot in {tdir}")
        # batch time travel reads the TARGET version's committed schema
        # (a later evolution must not leak columns into an old snapshot)
        v = self.options.get("version")
        m = snaplog.read_manifest(tdir, int(v) if v is not None else latest)
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        base = StructType.fromJson(json.loads(m["schema"]))
        if str(
            self.options.get("changefeed", self.options.get("changeFeed", "false"))
        ).lower() in ("true", "1"):
            return StructType(
                base.fields
                + [
                    StructField("_change_type", StringType(), False),
                    StructField("_commit_version", LongType(), False),
                ]
            )
        return base

    def reader(self, schema) -> DataSourceReader:
        if str(
            self.options.get("changefeed", self.options.get("changeFeed", "false"))
        ).lower() in ("true", "1"):
            # the table_changes shape: CDC rows over an explicit version
            # range (startingVersion required — a plain batch read is all
            # inserts by definition, so full-history CDF must be asked
            # for by version, exactly Delta's contract)
            return SnapshotFeedChangesReader(schema, self.options)
        return SnapshotFeedBatchReader(schema, self.options)

    def streamReader(self, schema) -> SnapshotFeedStreamReader:
        return SnapshotFeedStreamReader(schema, self.options)

    def writer(self, schema, overwrite: bool) -> SnapshotFeedWriter:
        return SnapshotFeedWriter(schema, self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> SnapshotFeedStreamWriter:
        if overwrite:
            raise ValueError(
                "snapshotfeed streaming sink supports APPEND output mode "
                "only (each micro-batch is one append commit)"
            )
        return SnapshotFeedStreamWriter(schema, self.options)


def register(spark) -> None:
    """Idempotently register the format on a session:
    ``spark.readStream.format('snapshotfeed').load(table_dir)`` /
    ``spark.read.format('snapshotfeed').load(table_dir)``.

    SESSION-CONF SIDE EFFECT, stated: the batch reader implements
    ``pushFilters`` (manifest-level pruning), which Spark refuses to even
    initialize unless the runtime conf
    ``spark.sql.python.filterPushdown.enabled`` is on — so registration
    enables it, which changes planning for EVERY Python data source on
    the session (their filters get pushed too; the API contract still
    re-applies filters a reader doesn't consume, so plans change, answers
    don't). The conf is only written when it is not already ``true``
    (an explicitly configured session is never flipped back and the call
    stays idempotent).

    The package is also SHIPPED to the cluster (``addPyFile`` of a zip of
    ``f1_data_pipeline_spark``, once per SparkContext): Python data
    source classes are pickled BY REFERENCE, so every planning worker and
    executor must be able to import the module — a session whose workers
    don't inherit the repo on their path (any cwd, spark-submit, a real
    cluster) would otherwise fail with ModuleNotFoundError the moment the
    format plans. Shipping is best-effort: if the zip can't be built the
    in-repo import path still works."""
    # THREAD ROBUSTNESS: Python threads map to fresh JVM threads with NO
    # active SparkSession, and format lookup resolves the data-source
    # registry through the JVM thread's active session — so a registered
    # format "vanishes" (DATA_SOURCE_NOT_FOUND) for any .save()/.load()
    # issued from a worker thread (observed under the bench's concurrent
    # phase). Pin the caller's session as this thread's active session;
    # callers must invoke register() on each thread that uses the format
    # (it is cheap and idempotent).
    for cls in ("classic.SparkSession", "SparkSession"):
        try:
            obj = spark._jvm.org.apache.spark.sql
            for part in cls.split("."):
                obj = getattr(obj, part)
            obj.setActiveSession(spark._jsparkSession)
            break
        except Exception:
            continue
    key = "spark.sql.python.filterPushdown.enabled"
    try:
        cur = spark.conf.get(key)
    except Exception:
        cur = None
    if str(cur).lower() != "true":
        spark.conf.set(key, "true")
    sc = spark.sparkContext
    _ship_package(sc)
    spark.dataSource.register(SnapshotFeedDataSource)


_PKG_ZIP = "f1_data_pipeline_spark_pkg.zip"
_SHIP_LOCK = __import__("threading").Lock()


def _ship_package(sc) -> None:
    """addPyFile a DETERMINISTIC zip of the package (sources only, fixed
    zip timestamps): byte-identical across builds, so a repeated add —
    the context flag can't guard every path — compares equal instead of
    failing executors with 'exists and does not match contents'.

    SHIPPED ONLY WHEN NEEDED: ``addPyFile`` while OTHER jobs' tasks are
    running is inherently racy in local mode — the executor's fetch can
    observe the in-progress userFiles copy and fail the task with
    'exists and does not match contents', poisoning the session
    (observed under concurrent query threads, and a lock around the add
    cannot close it because the racing reader is a task, not a thread we
    own). A session whose WORKERS can already import the package — the
    package root is the process cwd or on $PYTHONPATH, which python
    workers inherit — never needs the file, so in-repo sessions
    (pytest/bench, where concurrency lives) skip the add entirely; the
    ship only happens for out-of-repo sessions (e.g. a driver harness in
    /tmp), whose first use of the format precedes any competing job in
    practice. Serialized under a module lock with the idempotence check
    inside it; ``listFiles`` is the cross-wrapper check."""
    with _SHIP_LOCK:
        try:
            if getattr(sc, "_f1dp_pkg_shipped", False) or any(
                f.endswith(_PKG_ZIP) for f in sc.listFiles
            ):
                sc._f1dp_pkg_shipped = True
                return
            if workers_can_import():
                sc._f1dp_pkg_shipped = True
                return
            import os
            import tempfile
            import zipfile

            import f1_data_pipeline_spark as pkg

            pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
            pkg_root = os.path.dirname(pkg_dir)
            zpath = os.path.join(tempfile.mkdtemp(prefix="f1dp_pkg_"), _PKG_ZIP)
            with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
                for dirpath, dirnames, filenames in os.walk(pkg_dir):
                    dirnames[:] = sorted(
                        d for d in dirnames if d != "__pycache__"
                    )
                    for fn in sorted(filenames):
                        if not fn.endswith(".py"):
                            continue
                        full = os.path.join(dirpath, fn)
                        rel = os.path.relpath(full, pkg_root)
                        with open(full, "rb") as fh:
                            # fixed ZipInfo date (1980) — deterministic bytes
                            zf.writestr(zipfile.ZipInfo(rel), fh.read())
            sc.addPyFile(zpath)
            sc._f1dp_pkg_shipped = True
        except Exception:
            pass  # in-repo sessions import from the working dir anyway
