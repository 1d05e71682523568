"""Table catalog: load the synthetic relational corpus as DataFrames.

Tables (TESTDATA.md / FIXTURES.md §B): region nation customer supplier part
orders lineitem events documents embeddings — one parquet file each under a
scale-factor directory.

At 100 TB these would be partitioned/bucketed lakehouse tables; the loader
keeps the interface identical (name → DataFrame) so query code never knows
the difference. Small dimensions are flagged so join helpers can broadcast.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


class Tables:
    """Lazy name→DataFrame catalog over one scale-factor directory."""

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        from f1_data_pipeline_spark.session import ensure_session_confs

        self.spark = ensure_session_confs(spark)
        self.sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        return self.table(name)

    def table(self, name: str) -> DataFrame:
        if name not in TABLE_NAMES:
            raise KeyError(f"unknown table {name!r}")
        if name not in self._cache:
            df = self.spark.read.parquet(os.path.join(self.sf_dir, f"{name}.parquet"))
            if name == "events":
                df = _normalize_event_ts(df)
            self._cache[name] = df
        return self._cache[name]

    def register_views(self, names: tuple[str, ...] = TABLE_NAMES) -> None:
        """Register every table as a temp view for spark.sql queries."""
        for name in names:
            self.table(name).createOrReplaceTempView(name)


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS); Spark reads it as long (see
    session.py nanosAsLong) — convert to TimestampType via µs truncation,
    matching DuckDB's ns→µs handling so both engines agree."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


_tables_cache: dict[tuple[int, str], Tables] = {}


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> Tables:
    """Memoized per (session, dir): repeated query builds share one catalog
    so parquet footers/schemas are read once, not once per query."""
    key = (id(spark), sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR))
    if key not in _tables_cache:
        _tables_cache[key] = Tables(spark, key[1])
    return _tables_cache[key]
