"""The snapshot log's single IO layer (``snaplog``): URI resolution,
the publish-once primitive both writers commit and claim with, and the
checkpoint trust rules. Everything here is pyarrow.fs — no SparkSession
except for the first-touch check of an unresolvable scheme."""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

from f1_data_pipeline_spark import snaplog
from f1_data_pipeline_spark.snaplog import SnapshotConflictError

_SCHEMA = json.dumps(
    {"type": "struct",
     "fields": [{"name": "k", "type": "long", "nullable": True, "metadata": {}}]}
)


def _record(v: int, **fields) -> dict:
    """A commit record of the shape every writer publishes."""
    return {"version": v, "files": [], "schema": _SCHEMA, "op": "append", **fields}


def test_scheme_classifies_without_connecting():
    assert snaplog.scheme("/tmp/x") == "file"
    assert snaplog.scheme("relative/x") == "file"
    assert snaplog.scheme("file:/tmp/x") == "file"
    assert snaplog.scheme("file:///tmp/x") == "file"
    assert snaplog.scheme("hdfs://nn:8020/t") == "hdfs"
    assert snaplog.scheme("viewfs://cluster/t") == "viewfs"
    assert snaplog.scheme("s3://bucket/t") == "s3"
    assert snaplog.ATOMIC_SCHEMES == ("file",)
    with pytest.raises(ValueError, match=r"s3a://.*s3://"):
        snaplog.scheme("s3a://bucket/t")
    with pytest.raises(ValueError, match="s3://"):
        snaplog.resolve("s3a://bucket/t")


def test_resolve_local_paths(tmp_path):
    from pyarrow import fs as pafs

    for path, want in (
        (str(tmp_path), str(tmp_path)),
        (f"file:{tmp_path}", str(tmp_path)),
        (f"file://{tmp_path}", str(tmp_path)),
    ):
        f, p = snaplog.resolve(path)
        assert isinstance(f, pafs.LocalFileSystem)
        assert p == want


def test_unresolvable_scheme_fails_before_staging(spark):
    from f1_data_pipeline_spark.storage import snapshot_write

    with pytest.raises(ValueError, match="s3://"):
        snapshot_write(spark.range(3), "s3a://bucket/tbl")


@pytest.mark.parametrize("prefix", ["", "file:"])
def test_fs_helpers(tmp_path, prefix):
    root = f"{prefix}{tmp_path}/t"
    assert not snaplog.exists(root)
    assert snaplog.listdir(root) == []
    snaplog.remove(root)  # missing: no-op
    assert snaplog.publish_once(f"{root}/a", b"x" * 100)
    assert snaplog.publish_once(f"{root}/nested/b", json.dumps({"k": 1}).encode())
    assert snaplog.exists(f"{root}/a") and snaplog.exists(f"{root}/nested")
    assert snaplog.read_json(f"{root}/nested/b") == {"k": 1}
    assert sorted(i.base_name for i in snaplog.listdir(root)) == ["a", "nested"]
    sizes = [i.size for i in snaplog.listdir(root, recursive=True) if i.is_file]
    assert sum(sizes) == 100 + len(json.dumps({"k": 1}))
    snaplog.remove(f"{root}/a")
    assert not snaplog.exists(f"{root}/a")
    snaplog.remove(root)
    assert not snaplog.exists(root)


@pytest.mark.parametrize("prefix", ["", "file:"])
def test_publish_once_lost_race(tmp_path, prefix):
    """Publish-once refuses an existing name — that refusal IS the
    lost-race signal of the commit record and the staging claim — and
    leaves the winner's content and no temp files behind."""
    target = f"{prefix}{tmp_path}/_manifests/1.json"
    assert snaplog.publish_once(target, b"winner") is True
    assert snaplog.publish_once(target, b"loser") is False
    with open(f"{tmp_path}/_manifests/1.json", "rb") as fh:
        assert fh.read() == b"winner"
    assert os.listdir(f"{tmp_path}/_manifests") == ["1.json"]


class _ClobberingFS:
    """A local filesystem whose ``move`` REPLACES an existing destination,
    as pyarrow's HadoopFileSystem does (delete, then rename again)."""

    def __init__(self):
        from pyarrow import fs as pafs

        self._fs = pafs.LocalFileSystem()

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def move(self, src, dst):
        try:
            self._fs.delete_file(dst)
        except FileNotFoundError:
            pass
        self._fs.move(src, dst)


def test_publish_once_never_trusts_a_clobbering_move(tmp_path, monkeypatch):
    """On hdfs:// the filesystem's move replaces an existing name, so a
    rename cannot be the lost-race signal: publish-once there must report
    exactly one winner and keep the winner's record, and multiWriter is
    refused for the scheme."""
    from f1_data_pipeline_spark.ingest.feedsource import _require_atomic_store

    fake = _ClobberingFS()
    monkeypatch.setattr(
        snaplog, "resolve",
        lambda path: (fake, str(tmp_path) + path.split("hdfs://nn:8020", 1)[1]),
    )
    tdir = "hdfs://nn:8020/tbl"
    wins = [snaplog.publish_once(f"{tdir}/_manifests/1.json", b"w%d" % i) for i in range(4)]
    assert wins == [True, False, False, False]
    with open(f"{tmp_path}/tbl/_manifests/1.json", "rb") as fh:
        assert fh.read() == b"w0"
    snaplog.commit(tdir, 2, _record(2, writer="a"))
    with pytest.raises(SnapshotConflictError):
        snaplog.commit(tdir, 2, _record(2, writer="b"))
    assert snaplog.read_manifest(tdir, 2)["writer"] == "a"
    assert snaplog.claim_version(tdir, 3) == f"{tdir}/v=3"
    with pytest.raises(SnapshotConflictError):
        snaplog.claim_version(tdir, 3)
    with pytest.raises(ValueError, match="conditional PUT"):
        _require_atomic_store(tdir, "t")


def _race(target, n: int) -> None:
    """Run ``target(i)`` on ``n`` threads released together, with a
    shortened switch interval so the interleavings are dense."""
    barrier = threading.Barrier(n)

    def run(i):
        barrier.wait()
        target(i)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)


def test_claim_race_leaves_exactly_one_winner(tmp_path):
    """N threads racing one ``v=N/_CLAIM``: exactly one claims it, every
    other gets the typed, retryable conflict."""
    tdir = str(tmp_path / "tbl")
    n = 8
    for version in range(1, 6):
        results: list = []

        def claim(i):
            try:
                results.append(snaplog.claim_version(tdir, version))
            except SnapshotConflictError as e:
                results.append(e)

        _race(claim, n)
        assert len(results) == n
        won = [r for r in results if isinstance(r, str)]
        assert won == [f"{tdir}/v={version}"]
        assert sum(isinstance(r, SnapshotConflictError) for r in results) == n - 1
        assert os.listdir(f"{tdir}/v={version}") == ["_CLAIM"]


def test_commit_race_leaves_exactly_one_record(tmp_path):
    tdir = str(tmp_path / "tbl")
    n = 8
    results: list = []

    def commit(i):
        try:
            snaplog.commit(tdir, 1, _record(1, writer=i))
            results.append(i)
        except SnapshotConflictError:
            results.append(None)

    _race(commit, n)
    assert len(results) == n
    winners = [r for r in results if r is not None]
    assert len(winners) == 1
    assert snaplog.read_manifest(tdir, 1)["writer"] == winners[0]
    assert snaplog.list_versions(tdir) == [1]


def test_nonconflict_link_failure_is_a_plain_runtime_error(tmp_path, monkeypatch):
    """Only a lost race is a conflict: a link that fails for another
    reason (cross-device tmp, permissions, no hard links) raises a plain
    RuntimeError, for the commit record and the staging claim alike."""

    def broken_link(src, dst):
        raise OSError("Invalid cross-device link")

    monkeypatch.setattr(snaplog, "_link", broken_link)
    tdir = str(tmp_path / "tbl")
    for attempt in (
        lambda: snaplog.commit(tdir, 1, {"version": 1}),
        lambda: snaplog.claim_version(tdir, 1),
    ):
        with pytest.raises(RuntimeError, match="non-conflict") as ei:
            attempt()
        assert not isinstance(ei.value, SnapshotConflictError)
    assert not snaplog.exists(f"{tdir}/_manifests/1.json")
    assert not snaplog.exists(f"{tdir}/v=1/_CLAIM")


def _commits(tdir: str, n: int) -> None:
    for v in range(1, n + 1):
        snaplog.commit(tdir, v, _record(v))


def test_checkpoint_cadence_and_tail_probe(tmp_path, monkeypatch):
    monkeypatch.setattr(snaplog, "SNAPSHOT_CHECKPOINT_INTERVAL", 3)
    tdir = str(tmp_path / "tbl")
    _commits(tdir, 7)
    assert snaplog.checkpoint_version(tdir) == 6
    ck = snaplog.read_checkpoint(tdir)
    assert [r["version"] for r in ck["log"]] == list(range(1, 7))
    assert ck["log"] == [
        snaplog.history_rec(v, snaplog.read_manifest(tdir, v)) for v in range(1, 7)
    ]
    assert snaplog.latest_version(tdir) == 7


def test_torn_or_phantom_pointer_falls_back_to_listing(tmp_path, monkeypatch):
    monkeypatch.setattr(snaplog, "SNAPSHOT_CHECKPOINT_INTERVAL", 1000)
    tdir = str(tmp_path / "tbl")
    _commits(tdir, 3)
    mdir = f"{tdir}/_manifests"
    ptr = f"{mdir}/_last_checkpoint"

    # torn pointer
    with open(ptr, "w") as fh:
        fh.write("{torn")
    assert snaplog.checkpoint_version(tdir) is None
    assert snaplog.read_checkpoint(tdir) is None
    assert snaplog.latest_version(tdir) == 3

    # phantom pointer: a well-formed checkpoint whose own version was
    # never committed must not be trusted for the head or the log
    with open(f"{mdir}/7.ckpt.json", "w") as fh:
        json.dump({"version": 7, "log": [{"version": 7}]}, fh)
    with open(ptr, "w") as fh:
        json.dump({"version": 7, "path": "7.ckpt.json"}, fh)
    assert snaplog.read_checkpoint(tdir) is None
    assert snaplog.latest_version(tdir) == 3

    # an explicit checkpoint repairs the pointer
    snaplog.write_checkpoint(tdir, 3)
    assert snaplog.read_checkpoint(tdir)["version"] == 3
    assert snaplog.latest_version(tdir) == 3


def test_missing_manifest_names_retention_or_absence(tmp_path, monkeypatch):
    monkeypatch.setattr(snaplog, "SNAPSHOT_CHECKPOINT_INTERVAL", 1000)
    tdir = str(tmp_path / "tbl")
    _commits(tdir, 3)
    snaplog.write_checkpoint(tdir, 3)
    os.remove(f"{tdir}/_manifests/1.json")
    with pytest.raises(FileNotFoundError, match="snapshot_expire_log"):
        snaplog.read_manifest(tdir, 1)
    with pytest.raises(FileNotFoundError, match="never committed"):
        snaplog.read_manifest(tdir, 9)


def test_every_commit_publishes_a_next_record_result():
    """Structural guard: every ``snaplog.commit`` in the package — and
    every ``storage._publish_staged``, the commit of a claimed stage —
    publishes a ``snaplog.next_record`` result, and no module but
    ``snaplog`` spells a commit record as a dict literal — so what a
    commit inherits from its parent stays stated once."""
    import ast
    import pathlib

    def is_snaplog_call(node, name):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == name
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "snaplog"
        )

    pkg = pathlib.Path(snaplog.__file__).parent
    commits = set()
    for path in sorted(pkg.rglob("*.py")):
        if path == pathlib.Path(snaplog.__file__):
            continue
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Dict):
                keys = {k.value for k in node.keys if isinstance(k, ast.Constant)}
                assert not ("op" in keys and keys & {"version", "files"}), (
                    f"{path.name}:{node.lineno} builds a commit record by hand"
                )
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if fn.name == "_publish_staged":
                continue  # commits its caller's record: checked at the calls
            built = {
                t.id
                for node in ast.walk(fn)
                if isinstance(node, ast.Assign)
                and is_snaplog_call(node.value, "next_record")
                for t in node.targets
                if isinstance(t, ast.Name)
            }
            for node in ast.walk(fn):
                if is_snaplog_call(node, "commit") or (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id == "_publish_staged"
                ):
                    rec = node.args[2]
                    assert is_snaplog_call(rec, "next_record") or (
                        isinstance(rec, ast.Name) and rec.id in built
                    ), f"{path.name}:{node.lineno} commits a record not built by next_record"
                    commits.add((path.name, node.lineno))
    assert len(commits) >= 10  # the walk found the commit sites


def test_read_manifest_refuses_a_record_without_files_or_schema(tmp_path):
    """``read_manifest`` is the one check of a record's shape: a record
    without a ``files`` list or a ``schema`` raises a ``ValueError``
    naming the table, the version and the missing key, so no reader
    branches on either."""
    tdir = str(tmp_path / "tbl")
    snaplog.commit(tdir, 1, _record(1))
    assert snaplog.read_manifest(tdir, 1)["files"] == []
    for v, drop in ((2, "files"), (3, "schema")):
        rec = _record(v)
        del rec[drop]
        snaplog.commit(tdir, v, rec)
        with pytest.raises(ValueError, match=rf"version {v} of .*tbl has no {drop}"):
            snaplog.read_manifest(tdir, v)
    snaplog.commit(tdir, 4, _record(4, schema=""))
    with pytest.raises(ValueError, match="has no schema"):
        snaplog.read_manifest(tdir, 4)


def test_record_shape_is_checked_only_in_snaplog():
    """Structural guard: no package module but ``snaplog`` compares a
    record's ``files`` or ``schema`` with None, names a ``v1-era`` record,
    or detects maintenance commits by marker keys — ``read_manifest``
    owns the record's shape, and a commit's ``op`` names its kind."""
    import ast
    import pathlib

    pkg = pathlib.Path(snaplog.__file__).parent

    def shape_key(node) -> bool:
        # m.get("files") / m.get("schema") / m["files"] / m["schema"]
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            args = node.args
            return (
                node.func.attr == "get"
                and bool(args)
                and isinstance(args[0], ast.Constant)
                and args[0].value in ("files", "schema")
            )
        return (
            isinstance(node, ast.Subscript)
            and isinstance(node.slice, ast.Constant)
            and node.slice.value in ("files", "schema")
        )

    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pathlib.Path(snaplog.__file__):
            continue
        text = path.read_text()
        if "v1-era" in text:
            found.append(f"{path.name}: mentions v1-era records")
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.Compare) and any(
                isinstance(c, ast.Constant) and c.value is None
                for c in node.comparators
            ) and shape_key(node.left):
                found.append(f"{path.name}:{node.lineno} tests a record's shape")
            if isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                if any(
                    isinstance(t, ast.Name) and t.id.endswith("MAINTENANCE_KEYS")
                    for t in targets
                ):
                    found.append(f"{path.name}:{node.lineno} defines marker-key detection")
    assert not found, found
