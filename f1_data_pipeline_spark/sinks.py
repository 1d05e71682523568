"""Sinks (SURVEY §2.2 K1–K8): append, chunked bulk, upsert (last-write-wins
and COALESCE-merge), transactional micro-batch write.

Two upsert paths:

- ``jdbc_upsert_writer`` — the reference-parity path: emits
  ``INSERT … ON CONFLICT`` statements per micro-batch through a DB-API
  connection factory (asyncpg upserts, loader.py:202-278). Rows leave the
  cluster via ``toLocalIterator`` in bounded chunks (K3's 1000-row chunking)
  — the DB wire, not Spark, is the bottleneck by design, exactly as in the
  reference. One transaction per batch (K6) makes at-least-once delivery
  effectively-once for keyed tables (T4).
- ``jdbc_upsert_writer_distributed`` — the cluster-scale path: the same
  ON CONFLICT statements, but executed per-partition on the executors
  (``foreachPartition``), one connection + transaction per partition, so the
  DB sees ``num_partitions`` concurrent writers instead of one driver thread.
- ``upsert_parquet`` — the lakehouse path: read-merge-overwrite with the
  deterministic merge operators. On a real deployment this is Delta/Iceberg
  ``MERGE INTO``; plain parquet keeps the container dependency-free while
  preserving the exact merge semantics (and the idempotence contract).
"""

from __future__ import annotations

import itertools
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from f1_data_pipeline_spark.operators.merge import last_non_null_merge


def insert_on_conflict_sql(
    table: str,
    columns: list[str],
    keys: list[str],
    coalesce_merge: bool,
) -> str:
    """Build the reference-shaped upsert statement (loader.py:202-278).

    ``coalesce_merge=False`` → last-write-wins (K4):   col = EXCLUDED.col
    ``coalesce_merge=True``  → fill-missing-only (K5): col = COALESCE(EXCLUDED.col, t.col)
    """
    collist = ", ".join(columns)
    placeholders = ", ".join("?" for _ in columns)
    updates = ", ".join(
        f"{c} = COALESCE(EXCLUDED.{c}, {table}.{c})"
        if coalesce_merge
        else f"{c} = EXCLUDED.{c}"
        for c in columns
        if c not in keys
    )
    conflict = ", ".join(keys)
    return (
        f"INSERT INTO {table} ({collist}) VALUES ({placeholders}) "
        f"ON CONFLICT ({conflict}) DO UPDATE SET {updates}"
    )


def _chunks(it: Iterable, size: int):
    it = iter(it)
    while chunk := list(itertools.islice(it, size)):
        yield chunk


def jdbc_upsert_writer(
    connect: Callable,
    table: str,
    keys: list[str],
    coalesce_merge: bool = False,
    chunk_size: int = 1000,
):
    """foreachBatch sink: upsert each micro-batch in one DB transaction.

    ``connect`` returns a DB-API connection (psycopg/duckdb/…). Usage::

        q = df.writeStream.foreachBatch(
                jdbc_upsert_writer(connect, "sessions", ["session_key"])
            ).start()
    """

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        cols = batch_df.columns
        sql = insert_on_conflict_sql(table, cols, keys, coalesce_merge)
        conn = connect()
        try:
            # K6: one transaction per micro-batch; K3: bounded chunks
            for chunk in _chunks(batch_df.toLocalIterator(), chunk_size):
                conn.executemany(sql, [tuple(row) for row in chunk])
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    return write


def jdbc_upsert_writer_distributed(
    connect: Callable,
    table: str,
    keys: list[str],
    coalesce_merge: bool = False,
    chunk_size: int = 1000,
    num_partitions: int | None = None,
):
    """foreachBatch sink: executor-side upserts via ``foreachPartition``.

    The cluster-scale variant of ``jdbc_upsert_writer``: each partition opens
    its own DB-API connection ON THE EXECUTOR and upserts its rows in one
    per-partition transaction, so write parallelism equals ``num_partitions``
    instead of one driver thread funnelling every row (``toLocalIterator``).

    Transactional semantics shift from K6's one-transaction-per-batch to
    one-transaction-per-partition: a retried task replays only its partition,
    and because the statements are keyed ``ON CONFLICT`` upserts the replay is
    idempotent — effectively-once for keyed tables (T4) still holds. Use the
    driver-side writer when a single all-or-nothing batch transaction is a
    hard requirement; use this one when throughput is.

    ``connect`` must be picklable and executor-safe (e.g. builds a new
    psycopg/duckdb connection per call). ``num_partitions`` bounds the number
    of concurrent DB connections — size it to what the database tolerates.
    """

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        cols = batch_df.columns
        sql = insert_on_conflict_sql(table, cols, keys, coalesce_merge)
        df = batch_df.repartition(num_partitions) if num_partitions else batch_df

        def write_partition(rows) -> None:
            first = list(itertools.islice(rows, 1))
            if not first:
                return  # empty partition: never open a connection
            conn = connect()
            try:
                for chunk in _chunks(itertools.chain(first, rows), chunk_size):
                    conn.executemany(sql, [tuple(row) for row in chunk])
                conn.commit()
            except Exception:
                conn.rollback()
                raise
            finally:
                conn.close()

        df.foreachPartition(write_partition)

    return write


def upsert_parquet(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    keys: list[str],
    order_col: str | None = None,
) -> None:
    """K4/K5 lakehouse emulation: merge new rows into a parquet target with
    last-non-null-wins per key.

    Existing rows get order rank 0 and incoming rows 1..n (by ``order_col``
    when given), so re-running the same batch is idempotent — the T4
    requirement. Production swaps this for ``MERGE INTO`` on Delta/Iceberg;
    semantics (and tests) carry over unchanged.

    Crash-safe: the merged table is staged to ``path__swap_tmp`` (reading
    the existing table stays safe — never overwrite-while-reading), verified
    via ``_SUCCESS``, then installed with ``storage.staged_swap``'s
    rename-aside swap — a crash leaves either the old or the new table,
    and a swap interrupted mid-rename self-heals on the next call
    (``recover_swap``).
    Single-writer per path, as with every non-transaction-log table format.
    """
    from f1_data_pipeline_spark.storage import SWAP_TMP_SUFFIX, recover_swap, staged_swap

    base_path = path.rstrip("/")
    recover_swap(base_path)  # heal a swap interrupted by a previous crash
    try:
        existing = spark.read.parquet(path)
        exists = True
    except Exception:
        exists = False

    if order_col:
        ranked_new = new_rows.withColumn(
            "__ord", F.dense_rank().over(Window.orderBy(F.col(order_col))).cast("long")
        )
    else:
        ranked_new = new_rows.withColumn("__ord", F.lit(1).cast("long"))

    if exists:
        base = existing.withColumn("__ord", F.lit(0).cast("long"))
        merged = last_non_null_merge(
            base.unionByName(ranked_new), keys=keys, order_col="__ord"
        )
    else:
        merged = last_non_null_merge(ranked_new, keys=keys, order_col="__ord")

    out_cols = [c for c in new_rows.columns]
    tmp = base_path + SWAP_TMP_SUFFIX
    merged.select(*out_cols).write.mode("overwrite").parquet(tmp)
    staged_swap(base_path, tmp)
