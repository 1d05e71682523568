"""SparkSession factory with scale-oriented defaults.

Config rationale (SURVEY §7.1 step 1):

- AQE on: runtime re-planning (skew-join splitting, dynamic coalescing of
  shuffle partitions) is the single biggest lever when the same code must run
  at sf0.001 locally and at 100 TB on a 1000-executor cluster.
- Arrow on: every pandas UDF / ``applyInPandas``/``mapInPandas`` crossing is
  Arrow-batched instead of pickled row-at-a-time.
- Session timezone pinned to UTC: the reference mixes tz-aware and tz-naive
  timestamps (SURVEY §7.4); we normalize to UTC instants internally and this
  also keeps the DuckDB oracle comparison deterministic.
- ``shuffle.partitions`` defaults to the local core count; on a real cluster
  AQE coalesces from a deliberately-high initial number, so we set the
  *initial* number high and let AQE shrink it.
- Python workers fork from ``pydaemon`` when they can import the package:
  it skips PySpark's per-task re-read of unchanged zip archives (SCALE.md
  "Python worker per-task constant").
- The generated-class cache holds the engine's working set
  (``CODEGEN_CACHE_ENTRIES``), and whole-stage class names leave out the
  stage id AQE assigns in stage-completion order, so a recurring plan is
  compiled once per session, not on every run (SCALE.md "Generated-code
  per-query constant").
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# Generated-class cache entries: the whole registry compiles ~2,000
# distinct classes at sf0.001, so this holds it with ~2x headroom. Spark's
# default of 100 is below one corpus_queries pass (~150 classes), and its
# LRU evicted every class before it recurred.
CODEGEN_CACHE_ENTRIES = 4096
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
_warned_apps: set[str] = set()


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def workers_can_import() -> bool:
    """True when Spark's python workers can import the package WITHOUT a
    shipped zip: workers inherit the driver process's cwd (local mode)
    and $PYTHONPATH. Only then can workers fork from ``pydaemon``, and
    only otherwise does ``feedsource._ship_package`` ship the package."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    candidates = [os.getcwd()] + (
        os.environ.get("PYTHONPATH") or ""
    ).split(os.pathsep)
    return any(
        c and os.path.abspath(c) == pkg_root for c in candidates
    )


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs the engine's semantics depend on,
    for sessions built by someone else (the driver, a notebook): UTC
    timestamps, nanos-parquet reading and stage-id-free generated class
    names (SCALE.md "Generated-code per-query constant"). Safe to call
    repeatedly.

    The generated-class cache size is static, so it cannot be fixed here:
    a session built with fewer entries than ``CODEGEN_CACHE_ENTRIES`` gets
    one WARNING per application."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # static in some deployments; catalog handles both shapes
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    entries = int(spark.conf.get(CODEGEN_CACHE_CONF))
    if (
        entries < CODEGEN_CACHE_ENTRIES
        and spark.sparkContext.applicationId not in _warned_apps
    ):
        _warned_apps.add(spark.sparkContext.applicationId)
        log.warning(
            "%s=%d is below the engine's %d: the cache evicts recurring "
            "queries' generated classes, so they recompile on every run. "
            "It is a static conf; set it when the session is built "
            "(SCALE.md \"Generated-code per-query constant\").",
            CODEGEN_CACHE_CONF, entries, CODEGEN_CACHE_ENTRIES,
        )
    return spark


def get_spark(
    app_name: str = "f1_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when running outside a
    cluster; on a real deployment the cluster manager supplies it and this
    argument is left ``None``.
    """
    cpus = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # nested-schema pruning so from_json/struct projections prune at scan
        # (SURVEY §4: reference hand-prunes telemetry channels; Catalyst does it
        # for us when this is on)
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # parquet pushdown is on by default; make the intent explicit
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet stores ts as TIMESTAMP(NANOS) which Spark
        # cannot read natively; read as long and convert in the catalog
        # (micros truncation — same as DuckDB's ns→µs behavior).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # managed-table root for bucketed tables (static conf — must be set
        # before the session exists)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # static: a recurring plan's classes must outlive one pass
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
        # the same stage compiled under another AQE stage id is a cache hit
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    if workers_can_import():
        # static: only a session this call creates gets it
        builder = builder.config(
            "spark.python.daemon.module", "f1_data_pipeline_spark.pydaemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
