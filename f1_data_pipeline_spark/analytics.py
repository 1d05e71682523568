"""Gold-layer analytics (SURVEY §2.6 A4–A9, §2.1 S5, dashboard.py parity)
— plus ``observe()`` in-flight metrics, the Spark-native replacement for the
reference's hand-rolled throughput counters (main_supabase.py:27-54).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def table_counts(tables: dict[str, DataFrame]) -> dict[str, int]:
    """A4: COUNT(*) per table (dashboard.py:56-60). Parquet count() is
    metadata-only (aggregate pushdown) — no data scan."""
    return {name: df.count() for name, df in tables.items()}


def recent_counts(df: DataFrame, ts_col: str, minutes: int = 5) -> DataFrame:
    """A5: rows in the trailing window, anchored at max(ts) so the query is
    deterministic on replayed data (dashboard.py:65-68)."""
    mx = df.agg(F.max(ts_col).alias("_mx"))
    return (
        df.crossJoin(F.broadcast(mx))
        .where(F.col(ts_col) > F.col("_mx") - F.expr(f"INTERVAL {minutes} MINUTE"))
        .agg(F.count("*").alias("c"))
    )


def last_update(df: DataFrame, ts_col: str) -> DataFrame:
    """A6: MAX(created_at) freshness probe (dashboard.py:71-74)."""
    return df.agg(F.max(ts_col).alias("last_update"))


def observed_run(df: DataFrame, measures: dict[str, F.Column]) -> tuple[DataFrame, Observation]:
    """A9: attach observe() metrics — computed during the SAME job that
    materializes ``df`` (zero extra passes), replacing the reference's
    driver-side counters. Read ``obs.get`` after an action."""
    obs = Observation()
    named = [c.alias(n) for n, c in measures.items()]
    return df.observe(obs, *named), obs


def verify_tables(spark: SparkSession, expected: dict[str, list[str]]) -> dict[str, dict]:
    """S5 catalog introspection (verify_tables.py:89-206 analog): for each
    expected table, report existence + missing/extra columns."""
    report: dict[str, dict] = {}
    for name, cols in expected.items():
        exists = spark.catalog.tableExists(name)
        entry: dict = {"exists": exists, "missing": [], "extra": []}
        if exists:
            actual = [c.name for c in spark.catalog.listColumns(name)]
            entry["missing"] = sorted(set(cols) - set(actual))
            entry["extra"] = sorted(set(actual) - set(cols))
        report[name] = entry
    return report


def sketch_rollup(
    df: DataFrame, group_col: str, value_col: str, lg_k: int = 12
) -> DataFrame:
    """Mergeable-cardinality rollup: per-group Apache DataSketches HLL
    sketches (``hll_sketch_agg``) plus a grand-total row computed by
    UNIONING the group sketches — not by re-scanning the data. Output:
    (group, distinct_est) with group='__TOTAL__' for the union row.

    This is the 100 TB incremental-rollup pattern the exact
    ``count(distinct)`` can't give you: persist the binary ``sketch``
    column per day/partition, then answer "distinct users this quarter"
    by merging kilobyte sketches instead of re-shuffling a quarter of raw
    keys. Sketches combine map-side; accuracy ~1.6%/sqrt(2^lg_k)
    (lg_k=12 → ~2.5% rel err, asserted ≤5% in tests vs exact counts).

    ``sketches`` (the intermediate with the binary column) is returned by
    ``sketch_table`` below for persistence; this function returns the
    human-readable estimates. This is the gold-layer single-key face of
    the canonical generalized machinery in ``operators/sketches.py``
    (multi-key, arbitrary rollup levels, KLL/KMV siblings) — both paths
    share one implementation.
    """
    from f1_data_pipeline_spark.operators.sketches import hll_rollup

    sk = sketch_table(df, group_col, value_col, lg_k)
    per = sk.select(group_col, F.hll_sketch_estimate("sketch").alias("distinct_est"))
    total = hll_rollup(sk, []).select(
        F.lit("__TOTAL__").alias(group_col),
        F.col("approx_distinct").alias("distinct_est"),
    )
    return per.unionByName(total).orderBy(group_col)


def sketch_table(
    df: DataFrame, group_col: str, value_col: str, lg_k: int = 12
) -> DataFrame:
    """The persistable form: (group, sketch binary). Write this to parquet
    per ingest increment; later rollups ``hll_union_agg`` across
    increments without touching raw data. Delegates to
    ``operators/sketches.hll_distinct`` (the canonical implementation)."""
    from f1_data_pipeline_spark.operators.sketches import hll_distinct

    return hll_distinct(df, [group_col], value_col, lg_k).select(group_col, "sketch")


def misra_gries_candidates(
    df: DataFrame, col: str, capacity: int
) -> DataFrame:
    """Per-partition Misra–Gries frequency summaries: each task folds its
    stream of values into a counter bounded at ``capacity`` entries
    (standard decrement-merge, so executor memory is O(capacity) no
    matter how many distincts the partition holds — the property a plain
    per-partition ``value_counts`` lacks). Output is the union of summary
    rows ``(value, lower_bound)``, sized ≤ capacity × num_tasks.

    Guarantee (Misra–Gries 1982): any value with global frequency
    > N/(capacity+1) appears in at least one partition summary — so the
    union is a complete candidate set for heavy hitters above that
    threshold."""
    import pandas as pd

    def kernel(batches):
        counter: dict = {}
        for pdf in batches:
            for v, c in pdf[col].value_counts().items():
                counter[v] = counter.get(v, 0) + int(c)
                if len(counter) > capacity:
                    d = min(counter.values())
                    counter = {
                        k: n - d for k, n in counter.items() if n - d > 0
                    }
        if counter:
            yield pd.DataFrame(
                {col: list(counter), "lower_bound": list(counter.values())}
            )

    return df.select(col).mapInPandas(
        kernel, f"{col} string, lower_bound long"
    )


def heavy_hitters(
    df: DataFrame, col: str, k: int, capacity: int | None = None
) -> DataFrame:
    """EXACT global top-k most frequent values in two passes:
    bounded-memory Misra–Gries candidate summaries per partition
    (``misra_gries_candidates``), then one exact recount restricted to the
    broadcast candidate set. No full GROUP BY over all distincts ever
    happens — the only wide shuffle carries candidate rows.

    Exact as long as the true k-th frequency exceeds N/(capacity+1)
    (the MG completeness threshold); ``capacity`` defaults to 8·k, far
    past that bound on any skewed (Zipfian) distribution. Ties broken by
    value so the result is deterministic.

    The guarantee is RUNTIME-CHECKED, not assumed (a flat distribution
    can put the true k-th below the threshold, silently dropping top-k
    members): one 1-row aggregate over the recount carries the candidate
    coverage (Σ candidate counts, candidate cardinality) and the top-k as
    an array, crossed with a broadcast 1-row aggregate N (total non-null
    values), and that one row raises at execution time unless either
    (a) the candidates cover every occurrence (Σ == N, i.e. nothing was
    ever decremented away — then the recount is trivially exact), or
    (b) there are ≥ k candidates and every returned count exceeds
    N/(capacity+1) (then no absent value can outrank any returned row).
    The row exists even when the summaries kept no candidate at all, so
    that case raises too instead of returning ``[]``. On failure the
    error says to raise ``capacity``. The check is lazy — it rides the
    same job the caller triggers. Honest cost accounting: N adds ONE
    column-pruned ``count(col)`` scan on top of the summary and recount
    passes — cheap relative to either Python pass, and the alternatives
    are worse
    (deriving N from the summary pass would evaluate that mapInPandas
    subplan twice, since its two consumers share no exchange Spark could
    reuse)."""
    capacity = capacity or 8 * k
    cands = (
        misra_gries_candidates(df, col, capacity).select(col).distinct()
    )
    recount = (
        df.join(F.broadcast(cands), col, "left_semi")
        .groupBy(col)
        .agg(F.count("*").alias("cnt"))
    )
    total = df.agg(F.count(col).alias("__N"))
    # coverage and the top-k (as one array) ride a 1-row aggregate, so the
    # check runs on a row that exists even when the summaries kept no
    # candidate (a flat stream decrements them all away) — a check per
    # result row would never run there and return [] silently
    stats = recount.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("__covered"),
        F.count("*").alias("__ncand"),
        F.slice(
            F.sort_array(F.collect_list(F.struct((-F.col("cnt")).alias("__neg"), col, "cnt"))),
            1,
            k,
        ).alias("__top"),
    )
    exact = (F.col("__covered") == F.col("__N")) | (
        (F.col("__ncand") >= F.lit(k))
        & (F.array_min("__top.cnt") > F.col("__N") / F.lit(capacity + 1))
    )
    # the check sits inside the generator's argument: the filter Spark
    # infers from an explode (non-empty array) would otherwise drop the
    # zero-candidate row before a separate check filter could see it
    checked = F.when(exact, F.col("__top")).otherwise(
        F.raise_error(
            F.lit(
                "heavy_hitters: Misra-Gries completeness guarantee does "
                f"not hold for k={k}, capacity={capacity} (true k-th "
                "frequency <= N/(capacity+1)); raise capacity"
            )
        )
    )
    return (
        stats.crossJoin(F.broadcast(total))
        .select(F.explode(checked).alias("__t"))
        .select(f"__t.{col}", "__t.cnt")
        .orderBy(F.desc("cnt"), col)
    )


def sync_replica_from_changes(
    spark: SparkSession,
    source_dir: str,
    key: str,
    replica_dir: str,
    cluster_files: int | None = None,
) -> tuple[int, int]:
    """Exactly-once snapshot-table REPLICATION off the change feed: keep
    ``replica_dir`` row-identical to ``source_dir`` by applying only the
    changes since the last synced source version — never re-copying the
    table. The cross-region / environment-promotion shape.

    Exactly-once without an offset store: each replica
    commit stamps the source version it reflects into its OWN commit
    record, atomically with the data, and commits with a CAS on the
    replica version read at entry — a crash redoes the span (the keyed
    CDC apply is idempotent), a concurrent replicator loses the CAS
    typed-loudly, and there is no external offset to tear.

    Per sync: the feed reads only endpoint-diff files of the SOURCE
    (O(touched files)); the net span folds to at most one row per
    changed key (``snapshot_changes`` already nets pre/post pairs, so
    dropping preimages leaves one event per key); the apply costs
    O(touched replica files + changed keys). A span that nets to zero
    rows still advances the stamp through a metadata-only ``restamp``
    commit. Deletion-vector deletes on the source replicate for free —
    the feed surfaces them as delete events. Returns
    ``(replica_version, source_version)``."""
    from f1_data_pipeline_spark.storage import (
        snapshot_apply_cdc,
        snapshot_changes,
        snapshot_properties,
        snapshot_read,
        snapshot_restamp,
        snapshot_version,
        snapshot_write,
    )

    src_ver = snapshot_version(spark, source_dir)
    if src_ver < 1:
        raise FileNotFoundError(f"no committed snapshot in {source_dir}")
    try:
        rep_ver = snapshot_version(spark, replica_dir)
    except FileNotFoundError:
        rep_ver = 0
    if rep_ver < 1:
        init = snapshot_read(spark, source_dir)
        if cluster_files:
            init = init.repartitionByRange(cluster_files, key)
        v = snapshot_write(
            init,
            replica_dir,
            stats_cols=[key],
            properties={"source_version": src_ver},
            expected_version=0,
        )
        return v, src_ver
    last = snapshot_properties(spark, replica_dir).get("source_version")
    if last is None:
        raise ValueError(
            f"replica at {replica_dir} carries no source_version property — "
            f"not maintained by sync_replica_from_changes; rebuild it"
        )
    last = int(last)
    if last == src_ver:
        return rep_ver, src_ver  # caught up: no empty commit
    feed = snapshot_changes(spark, source_dir, key, last, src_ver)
    # PERSIST the folded span: the keyed rewrite evaluates its input
    # twice (the probe job — duplicate-key gate and envelope join — and
    # the staging write), and the CDF plan above it (endpoint diff +
    # full-outer net + DV delta) is the expensive part of a sync —
    # re-running it per evaluation doubles the sync cost. The cached set
    # is at most one row per changed key (disk-spillable), exactly the
    # working set a replicator must hold anyway.
    ops = (
        feed.where(F.col("_change_type") != "update_preimage")
        .withColumn(
            "op",
            F.when(F.col("_change_type") == "delete", F.lit("D")).otherwise(
                F.lit("U")
            ),
        )
        .drop("_change_type")
    ).persist()
    try:
        v = snapshot_apply_cdc(
            spark,
            replica_dir,
            ops,
            key=key,
            op_col="op",
            stats_cols=[key],
            cluster_files=cluster_files,
            # the feed's columns follow the source's schema at src_ver: a
            # column the source gained is added to the replica too
            evolve_schema=True,
            properties={"source_version": src_ver},
            expected_version=rep_ver,
        )
    finally:
        ops.unpersist()
    if v == rep_ver:
        # the span netted to zero applied change (e.g. restore round-trip,
        # or deletes of keys the replica never held): the stamp must still
        # advance or every later sync re-reads this span forever
        v = snapshot_restamp(
            spark, replica_dir, {"source_version": src_ver},
            expected_version=rep_ver,
        )
    return v, src_ver
