"""Registry queries that build tables on disk keep one scratch dir each:
the next call of the same query removes the previous call's dir, and the
interpreter-exit hook removes the last one."""

from __future__ import annotations

import glob
import os
import pathlib
import subprocess
import sys
import tempfile

from f1_data_pipeline_spark.queries import all_queries
from tests.conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_scratch_dirs_do_not_outlive_the_process(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name, tag in (("x_meta_count", "meta_count"), ("x_quality_clf", "clf")):
        build = all_queries()[name].builder
        for _ in range(2):
            build(spark, SF_DIR).collect()
        assert len(glob.glob(f"{tmp_path}/f1dp_{tag}_*")) == 1

    # a fresh interpreter's scratch dir is gone once it exits
    probe = tmp_path / "exit"
    probe.mkdir()
    code = (
        "import os\n"
        "from f1_data_pipeline_spark.queries import _scratch_dir\n"
        "os.makedirs(_scratch_dir('probe', 'sf'))\n"
    )
    subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        env={**os.environ, "TMPDIR": str(probe)},
        check=True,
    )
    assert os.listdir(probe) == []
