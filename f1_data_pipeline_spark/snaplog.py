"""The snapshot log: its on-disk format and every read and write of it.

A snapshot table is a directory of immutable ``v=N`` data dirs plus a
commit log under ``_manifests/``:

* ``N.json`` — the commit record of version N. Creating it IS the
  commit, so it is published exactly once (see ``publish_once``);
  readers only ever follow committed records.
* ``v=N/_CLAIM`` — the staging claim. A writer publishes it once before
  writing anything under ``v=N`` so two writers deriving the same next
  version never interleave files in one directory.
* ``N.ckpt.json`` + ``_last_checkpoint`` — the manifest-log checkpoint
  (the Delta shape): every ``SNAPSHOT_CHECKPOINT_INTERVAL`` commits the
  per-version summary records are compacted into one immutable file and
  the overwritable pointer is moved to it. An optimization, never a
  correctness dependency: a missing, torn or phantom pointer falls back
  to listing ``_manifests/``.

Both writers — ``storage.py`` on the driver and the ``snapshotfeed``
DataSource writer/stream reader, whose Python worker has no JVM — call
this module, so the protocol exists once. All IO is ``pyarrow.fs``
resolved from the table dir's own URI:

===================  ===========================================
table dir            publish-once
===================  ===========================================
plain / ``file:``    hard link of a fully-written temp file
                     (EEXIST-atomic, complete at visibility)
every other pyarrow  check-then-write: single writer only.
scheme (``hdfs``,    pyarrow.fs has no create-no-overwrite, and its
``viewfs``, s3, gs…) ``move`` REPLACES an existing destination (HDFS
                     included: Arrow's HadoopFileSystem deletes and
                     renames again), so no rename publish is atomic
===================  ===========================================

Hadoop connector schemes pyarrow.fs cannot resolve (``s3a://`` …) fail
typed at first touch, naming the pyarrow equivalent.

The commit record's format is here too: every writer derives its next
record from its parent's through ``next_record``, the one statement of
what a commit inherits, and every reader gets it from ``read_manifest``,
the one check of its shape.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import time
import uuid

MANIFEST_DIR = "_manifests"
CKPT_POINTER = "_last_checkpoint"
SNAPSHOT_CHECKPOINT_INTERVAL = 10

# schemes whose publish-once is a genuinely atomic claim (see the table in
# the module docstring); everywhere else it is check-then-write
ATOMIC_SCHEMES = ("file",)

# Hadoop-only connector schemes and the pyarrow.fs scheme for the same store
_PYARROW_EQUIVALENT = {"s3a": "s3", "s3n": "s3", "wasb": "abfs", "wasbs": "abfss"}


class SnapshotConflictError(RuntimeError):
    """A concurrent writer won the staging or commit race. The loser's
    work was never exposed (readers only follow committed records); the
    caller may re-derive its write against the NEW current version and
    try again — blind full-replace writers can do so automatically via
    ``snapshot_write(..., retries=N)``, read-modify-write maintainers
    must re-read first (which ``expected_version`` enforces)."""


# ---------------------------------------------------------------------------
# URI resolution
# ---------------------------------------------------------------------------


def scheme(path: str) -> str:
    """``"file"`` for plain paths and ``file:`` URIs, else the URI scheme.
    Never connects; raises ``ValueError`` for Hadoop connector schemes
    pyarrow.fs cannot resolve."""
    if "://" not in path:
        return "file"
    sch = path.split("://", 1)[0].lower()
    if sch in _PYARROW_EQUIVALENT:
        raise ValueError(
            f"snapshot log: {sch}:// is a Hadoop connector scheme that "
            f"pyarrow.fs cannot resolve ({path}) — address the same store "
            f"as {_PYARROW_EQUIVALENT[sch]}://"
        )
    return sch


def resolve(path: str):
    """``(pyarrow FileSystem, fs-internal path)`` for a path or URI. Any
    other scheme pyarrow.fs does not know raises its ``ArrowInvalid``,
    itself a ``ValueError``."""
    from pyarrow import fs as pafs

    if scheme(path) == "file" and not path.startswith("file:"):
        return pafs.LocalFileSystem(), path
    return pafs.FileSystem.from_uri(path)


def entry_uri(table_dir: str, path: str) -> str:
    """Resolve a manifest entry path (a data file, a DV dir): every entry
    is relative to the table dir."""
    return f"{table_dir.rstrip('/')}/{path}"


def _found(f, p: str) -> bool:
    from pyarrow import fs as pafs

    return f.get_file_info(p).type != pafs.FileType.NotFound


def exists(path: str) -> bool:
    f, p = resolve(path)
    return _found(f, p)


def listdir(path: str, recursive: bool = False) -> list:
    """``FileInfo`` of each child of ``path`` ([] when missing)."""
    from pyarrow import fs as pafs

    f, p = resolve(path)
    return f.get_file_info(
        pafs.FileSelector(p, allow_not_found=True, recursive=recursive)
    )


def remove(path: str) -> None:
    """Delete a file or a directory tree; a missing path is a no-op."""
    from pyarrow import fs as pafs

    f, p = resolve(path)
    kind = f.get_file_info(p).type
    if kind == pafs.FileType.Directory:
        f.delete_dir(p)
    elif kind != pafs.FileType.NotFound:
        f.delete_file(p)


def read_json(path: str):
    f, p = resolve(path)
    with f.open_input_stream(p) as s:
        return json.loads(s.read())


def _write(f, p: str, data: bytes) -> None:
    with f.open_output_stream(p) as out:
        out.write(data)


def _delete_quietly(f, p: str) -> None:
    try:
        f.delete_file(p)
    except FileNotFoundError:
        pass


# ---------------------------------------------------------------------------
# Publish-once: the one atomic primitive of the protocol
# ---------------------------------------------------------------------------


def _link(src: str, dst: str) -> None:
    """``link(src, dst)`` — the atomic syscall that publishes on local
    paths. Module-level so failure-injection tests can substitute a
    non-EEXIST error."""
    os.link(src, dst)


def publish_once(path: str, data: bytes) -> bool:
    """Create ``path`` holding ``data`` unless the name already exists.
    True = created; False = lost the race (the name exists). The content
    is complete the instant the name becomes visible on atomic schemes.
    Any other failure raises ``RuntimeError`` — never a lost race, so
    callers don't burn retries on a hopeless IO error."""
    f, p = resolve(path)
    parent, name = p.rstrip("/").rsplit("/", 1)
    f.create_dir(parent, recursive=True)
    if scheme(path) not in ATOMIC_SCHEMES:
        # no create-no-overwrite through pyarrow.fs: single-writer caveat
        if _found(f, p):
            return False
        _write(f, p, data)
        return True
    tmp = f"{parent}/.{name}.{uuid.uuid4().hex}.tmp"
    _write(f, tmp, data)
    try:
        _link(tmp, p)
    except OSError as e:
        if _found(f, p):
            return False
        raise RuntimeError(
            f"publishing {path} failed for a non-conflict reason "
            f"(permissions? cross-device tmp? no hard-link support?): {e}"
        ) from e
    finally:
        _delete_quietly(f, tmp)
    return True


def claim_version(table_dir: str, version: int, caller: str = "snapshot_write") -> str:
    """Claim the ``v=N`` staging dir for ``version`` and return it — the
    mutual-exclusion step every writer of version-N side files (staged
    parquet, deletion vectors, change files) takes before writing.
    Raises ``SnapshotConflictError`` when the dir already exists or the
    ``_CLAIM`` publish is lost."""
    vdir = f"{table_dir.rstrip('/')}/v={version}"
    if exists(vdir):
        raise SnapshotConflictError(
            f"{caller}: staging dir v={version} already exists under "
            f"{table_dir} — either a concurrent writer is staging version "
            f"{version} or a crashed writer left an orphan; if "
            f"_manifests/{version}.json is absent, the orphan was never "
            f"committed and is safe to delete"
        )
    if not publish_once(f"{vdir}/_CLAIM", b""):
        raise SnapshotConflictError(
            f"{caller}: lost the staging race for v={version} under "
            f"{table_dir} to a concurrent writer"
        )
    return vdir


def commit(table_dir: str, version: int, payload: dict) -> None:
    """Publish the commit record ``_manifests/N.json`` (stamping ``ts``
    when absent) and auto-checkpoint on the interval. Raises
    ``SnapshotConflictError`` when a concurrent writer committed version
    N first. The stamp is truncated to the millisecond, never rounded
    up, so an as-of at any instant taken after the commit returns sees
    the commit."""
    payload.setdefault("ts", math.floor(time.time() * 1000) / 1000)
    record = f"{table_dir.rstrip('/')}/{MANIFEST_DIR}/{version}.json"
    if not publish_once(record, json.dumps(payload).encode()):
        raise SnapshotConflictError(
            f"snapshot_write: commit record for v={version} already exists "
            f"under {table_dir} — a concurrent writer committed first; "
            f"re-derive against the new current version and retry"
        )
    maybe_checkpoint(table_dir, version, payload)


# ---------------------------------------------------------------------------
# The commit record
# ---------------------------------------------------------------------------

# table-level fields: a commit inherits each from its parent record unless
# the writer passes a replacement
INHERITED = ("schema", "bloom_spec", "cdf", "dv")


def json_safe(v):
    """Stats values must survive a JSON round-trip AND order the same way
    afterwards: numbers/strings/bools pass through; date/timestamp become
    ISO-8601 strings (whose lexicographic order IS chronological order, so
    string comparison against an ISO literal prunes correctly); anything
    else falls back to ``str`` on the same reasoning as Python's repr."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    return str(v)


def canon_stat(v):
    """A per-file min/max in manifest form. Arrow and parquet footers hand
    back tz-aware timestamps (UTC instants) where the Spark stats job
    yields NAIVE ones; mixed forms would compare wrong at equality bounds
    ('…+00:00' > '…'), so aware values become UTC-naive before
    ``json_safe``."""
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return json_safe(v)


def tracked_stats(files: list[dict]) -> list[str] | None:
    """The stats columns a table already tracks (those of its first file
    entry with stats; None when no entry has any). A commit not told
    otherwise tracks the same ones, so skipping power stays uniform."""
    e = next((e for e in files if e.get("stats")), None)
    return sorted(e["stats"]) if e else None


def merge_txn(parent: dict, properties: dict | None) -> dict | None:
    """SetTransaction-style stamp retention (the Delta ``txn`` action):
    the ``txn`` sub-map of commit properties — streaming writers'
    ``{app_id: last_applied_batch}`` idempotence stamps — must survive
    every data-changing commit or a crash-replayed micro-batch would
    re-apply after an unrelated writer touched the table. The parent's
    ``txn`` map merges under any stamps ``properties`` carries (new wins
    per app_id)."""
    prev = (parent.get("properties") or {}).get("txn") or {}
    out = dict(properties or {})
    merged = {**prev, **(out.get("txn") or {})}
    if merged:
        out["txn"] = merged
    return out or None


def props_payload(props: dict) -> dict:
    """JSON-safe commit properties; one level of dict nesting (the
    ``txn`` stamp map) keeps its structure instead of stringifying."""
    return {
        k: (
            {kk: json_safe(vv) for kk, vv in v.items()}
            if isinstance(v, dict)
            else json_safe(v)
        )
        for k, v in props.items()
    }


def _field_names(schema_json: str) -> set[str]:
    return {f["name"] for f in json.loads(schema_json)["fields"]}


def next_record(
    parent: dict | None,
    version: int,
    op: str,
    files: list[dict],
    *,
    properties: dict | None = None,
    props: str = "merge",
    staged_schema: str | None = None,
    **fields,
) -> dict:
    """The commit record of ``version`` derived from ``parent``, the
    record the write was read from (None: a full replace, which states
    every field itself). The one rule for what a commit inherits:

    * ``INHERITED`` fields (schema, Bloom spec, change-data-feed flag,
      deletion vector) come from the parent unless ``fields``
      passes a replacement; a None or empty replacement drops the field.
      ``staged_schema`` (the staged rows' schema) replaces the parent's
      schema when it adds columns (schema evolution) or the parent
      records none.
    * ``properties`` by ``props`` mode: ``"merge"`` — data-changing
      commits — stamps ``properties`` with the parent's ``txn`` map
      merged under them (``merge_txn``); ``"carry"`` — content-preserving
      maintenance — keeps the parent's properties wholesale.
    * every other field (``changes``, ``restored_from`` …) passes
      through unless None."""
    parent = parent or {}
    if "schema" not in fields and staged_schema is not None:
        prior = parent.get("schema")
        if not prior or _field_names(staged_schema) - _field_names(prior):
            fields["schema"] = staged_schema
    rec = {"version": version, "dir": f"v={version}", "files": files, "op": op}
    for k in INHERITED:
        v = fields.pop(k) if k in fields else parent.get(k)
        if v:
            rec[k] = v
    if props == "carry":
        p = parent.get("properties")
    else:
        p = merge_txn(parent, properties)
        p = props_payload(p) if p else None
    if p:
        rec["properties"] = p
    rec.update({k: v for k, v in fields.items() if v is not None})
    return rec


# ---------------------------------------------------------------------------
# Reading the log
# ---------------------------------------------------------------------------


def _mdir(table_dir: str) -> str:
    return f"{table_dir.rstrip('/')}/{MANIFEST_DIR}"


def list_versions(table_dir: str) -> list[int]:
    """Every committed version, ascending (a full ``_manifests`` listing)."""
    out = []
    for info in listdir(_mdir(table_dir)):
        name = info.base_name
        if name.endswith(".json") and name[:-5].isdigit():
            out.append(int(name[:-5]))
    return sorted(out)


def checkpoint_version(table_dir: str) -> int | None:
    """POINTER-ONLY read of the checkpointed version (None when absent or
    torn). Version resolution must never pay for the compacted log
    itself, which is O(all versions) bytes."""
    try:
        return int(read_json(f"{_mdir(table_dir)}/{CKPT_POINTER}")["version"])
    except Exception:
        return None


def latest_version(table_dir: str) -> int:
    """The head version (0 = no commit yet), checkpoint-accelerated:
    versions are CONTIGUOUS by the staging protocol, so probing forward
    from the checkpointed version finds the head in O(tail) existence
    probes instead of listing a 100k-record ``_manifests/``. A pointer
    whose own version was never committed is corrupt — fall back to the
    listing rather than report a phantom head."""
    ckv = checkpoint_version(table_dir)
    if ckv is not None:
        f, mdir = resolve(_mdir(table_dir))
        v = ckv
        while _found(f, f"{mdir}/{v + 1}.json"):
            v += 1
        if v > ckv or _found(f, f"{mdir}/{v}.json"):
            return v
    versions = list_versions(table_dir)
    return versions[-1] if versions else 0


def read_manifest(table_dir: str, version: int) -> dict:
    """The commit record of ``version``: the one check of a record's
    shape, so every reader may rely on its ``files`` list and non-empty
    ``schema`` (every ``next_record`` result holds both); a record
    without them raises ``ValueError``. A missing record at or below the
    checkpoint pointer was provably committed once (the pointer only
    trails commits), so the error names log retention, not corruption."""
    try:
        m = read_json(f"{_mdir(table_dir)}/{version}.json")
    except FileNotFoundError:
        pass
    else:
        missing = [k for k in ("files", "schema") if m.get(k) in (None, "")]
        if missing:
            raise ValueError(
                f"snapshot log: the commit record of version {version} of "
                f"{table_dir} has no {' or '.join(missing)} — not a record "
                f"any writer of this format publishes"
            )
        return m
    ck = checkpoint_version(table_dir)
    if ck is not None and version <= ck:
        raise FileNotFoundError(
            f"snapshot log: version {version} of {table_dir} is no "
            f"longer available — it is at or behind the table's "
            f"manifest-log checkpoint (v{ck}), so snapshot_expire_log "
            f"retention most likely removed its commit record. A "
            f"stream must restart with a FRESH checkpoint (the "
            f"initial snapshot re-baselines); a batch changeFeed must "
            f"raise its starting bound above the horizon. Raise the "
            f"table's keep_last if readers can lag this far"
        )
    raise FileNotFoundError(
        f"snapshot log: version {version} was never committed (or was "
        f"removed) under {table_dir}"
    )


def read_checkpoint(table_dir: str) -> dict | None:
    """The latest checkpoint ``{"version": N, "log": [rec, ...]}``, or
    None when absent, torn or phantom. A genuine checkpoint's own version
    is always a committed record (commits precede checkpoints; expiry
    never deletes at-or-above the checkpoint); trusting a phantom would
    make as-of/history answer from a fake log and let expiry delete
    history the log does not carry."""
    mdir = _mdir(table_dir)
    try:
        meta = read_json(f"{mdir}/{CKPT_POINTER}")
        ck = read_json(f"{mdir}/{meta['path']}")
        if int(ck["version"]) != int(meta["version"]) or "log" not in ck:
            return None
        if not exists(f"{mdir}/{int(ck['version'])}.json"):
            return None
        return ck
    except Exception:
        return None


def version_asof(
    table_dir: str, ts: float, after: bool, latest: int, ck: dict | None
) -> int:
    """The version bound of unix time ``ts`` from commit stamps.
    ``after=True`` → the FIRST version committed at-or-after ``ts``
    (``latest + 1`` when every commit predates it — the Delta
    startingTimestamp shape); ``after=False`` → the LAST version
    committed at-or-before ``ts`` (0 when the first commit is later —
    TIMESTAMP AS OF). An exactly-at-``ts`` stamp belongs to BOTH bounds,
    so the stop test is ``>=`` for after and strict ``>`` for before.

    Clock skew between writers is handled the way Delta handles
    non-monotonic commit times: each version's EFFECTIVE time is the
    running max of all earlier stamps, so versions never travel back in
    time, and the scan stops at the first effective time past ``ts``
    (O(answer) manifest reads for an old bound). Pre-stamp-era records
    count as infinitely old; retention-expired manifests in the tail are
    skipped. ``latest`` and ``ck`` (``read_checkpoint``) come from the
    caller so a two-bound resolution parses the compacted log once; the
    compacted log is walked first — tiny records, zero manifest reads."""
    eff = float("-inf")
    best_before = 0

    def _past(v: float) -> bool:
        return v >= ts if after else v > ts

    start = 1
    if ck is not None:
        for rec in ck["log"]:
            if rec.get("ts") is not None:
                eff = max(eff, float(rec["ts"]))
            if _past(eff):
                return int(rec["version"]) if after else best_before
            best_before = int(rec["version"])
        start = int(ck["version"]) + 1
    for v in range(start, latest + 1):
        try:
            m = read_manifest(table_dir, v)
        except FileNotFoundError:
            continue  # retention-expired record: resolve past the gap
        if m.get("ts") is not None:
            eff = max(eff, float(m["ts"]))
        if _past(eff):
            return v if after else best_before
        best_before = v
    return (latest + 1) if after else best_before


# ---------------------------------------------------------------------------
# Checkpoint writing
# ---------------------------------------------------------------------------


def history_rec(v: int, m: dict) -> dict:
    """The per-version summary record shared by ``snapshot_history`` and
    the checkpoint (they must agree byte-for-byte — the checkpoint IS
    cached history)."""
    rec: dict = {"version": v}
    if m.get("ts") is not None:
        rec["ts"] = m["ts"]
    if m.get("op"):
        rec["op"] = m["op"]
    for k in ("restored_from", "optimized_from", "restamped_from"):
        if k in m:
            rec[k] = m[k]
    files, own = m["files"], f"v={v}/"
    rec.update(
        {
            "n_files": len(files),
            "rows": sum(e.get("rows", 0) for e in files),
            "bytes": sum(e.get("bytes", 0) for e in files),
            "n_staged": sum(e["path"].startswith(own) for e in files),
            "n_carried": sum(not e["path"].startswith(own) for e in files),
        }
    )
    return rec


def write_checkpoint(
    table_dir: str, version: int, payload: dict | None = None
) -> None:
    """Compact the log up to ``version`` (previous checkpoint + tail
    manifest reads; ``payload`` short-circuits the newest read when the
    caller just committed it) and move the pointer to it."""
    prev = read_checkpoint(table_dir)
    if prev is not None and int(prev["version"]) >= version:
        return  # a concurrent writer already checkpointed at-or-past us
    log, start = ([], 1) if prev is None else (list(prev["log"]), int(prev["version"]) + 1)
    for v in range(start, version + 1):
        if v == version and payload is not None:
            log.append(history_rec(v, payload))
            continue
        try:
            log.append(history_rec(v, read_manifest(table_dir, v)))
        except FileNotFoundError:
            continue
    mdir = _mdir(table_dir)
    # an immutable file: a lost duplicate-checkpoint race is fine
    publish_once(
        f"{mdir}/{version}.ckpt.json",
        json.dumps({"version": version, "log": log}).encode(),
    )
    # repoint: tmp + move, which replaces the old pointer in one step. The
    # pointer is the ONLY overwritten file in the protocol; a reader hitting
    # a torn pointer falls back to the listing — never a wrong answer.
    f, fmdir = resolve(mdir)
    ptr = f"{fmdir}/{CKPT_POINTER}"
    tmp = f"{fmdir}/.{CKPT_POINTER}.{uuid.uuid4().hex}.tmp"
    _write(
        f, tmp,
        json.dumps({"version": version, "path": f"{version}.ckpt.json"}).encode(),
    )
    try:
        f.move(tmp, ptr)
    except OSError:
        _delete_quietly(f, tmp)


def maybe_checkpoint(table_dir: str, version: int, payload: dict) -> None:
    """Checkpoint on the interval cadence, best-effort: called after every
    successful commit by either writer; any failure is swallowed (the
    next interval retries, and readers never depend on a checkpoint)."""
    interval = SNAPSHOT_CHECKPOINT_INTERVAL
    if not interval or interval < 1 or version % interval:
        return
    try:
        write_checkpoint(table_dir, version, payload)
    except Exception:
        pass
