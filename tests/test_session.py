"""Session defaults the engine's cost depends on: the generated-class
cache holds a recurring workload, and a session that cannot is named."""

from __future__ import annotations

import logging
from types import SimpleNamespace

from f1_data_pipeline_spark.queries import all_queries
from f1_data_pipeline_spark.session import (
    CODEGEN_CACHE_CONF,
    CODEGEN_CACHE_ENTRIES,
    ensure_session_confs,
)

from tests.conftest import SF_DIR

# the benchmark's corpus_queries set: operator kernels beside q_* controls
CORPUS = [
    "x_fuzzy_dedup", "x_domain_rank", "x_dedup_minhash", "x_ngram_spans",
    "q_s1", "q_a1", "q_j5", "q_w1",
]


def test_recurring_queries_compile_once(spark, compilations):
    """A second pass over the corpus reuses every generated class: the
    cache outlives a pass and no plan carries a per-run literal."""
    qs = all_queries()

    def run_pass():
        for name in CORPUS:
            qs[name].builder(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    run_pass()
    before = compilations()
    run_pass()
    assert compilations() - before == 0


def _session(entries: int, app: str):
    conf = {CODEGEN_CACHE_CONF: str(entries)}
    return SimpleNamespace(
        conf=SimpleNamespace(get=conf.__getitem__, set=conf.__setitem__),
        sparkContext=SimpleNamespace(applicationId=app),
    )


def test_small_codegen_cache_warns_once(caplog):
    s = _session(100, "app-small-cache")
    with caplog.at_level(logging.WARNING, logger="f1_data_pipeline_spark.session"):
        ensure_session_confs(s)
        ensure_session_confs(s)
    warned = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warned) == 1
    assert CODEGEN_CACHE_CONF in warned[0]
    assert "Generated-code per-query constant" in warned[0]


def test_sized_codegen_cache_does_not_warn(spark, caplog):
    assert int(spark.conf.get(CODEGEN_CACHE_CONF)) == CODEGEN_CACHE_ENTRIES
    with caplog.at_level(logging.WARNING, logger="f1_data_pipeline_spark.session"):
        ensure_session_confs(spark)
        ensure_session_confs(_session(CODEGEN_CACHE_ENTRIES, "app-sized-cache"))
    assert not [r for r in caplog.records if r.levelno >= logging.WARNING]
