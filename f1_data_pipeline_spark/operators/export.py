"""Training-data export operators: deterministic global shuffle into
token-balanced shards, and epoch upsampling (materializing fractional
repeat factors).

Extensions beyond the reference pipeline (which exports nothing): the
last mile of a curation pipeline — after dedup/quality/mixture decide
WHAT to train on, these decide the ORDER and PACKAGING a trainer reads.

Scale shapes (the part that must survive 100 TB):

* **Shuffle order** is ``md5(id‖salt)`` — a deterministic pseudo-random
  permutation that is a pure function of the row, so it is stable under
  retries, partitioning, AQE re-planning, and engine (DuckDB replays it
  in the oracles), and a salt change re-rolls the epoch order. No
  ``rand()``, no ``orderBy(rand())`` single-use shuffles.
* **Balanced sharding** needs a GLOBAL cumulative token sum over that
  order — the classic single-partition-window trap. Because md5 is
  uniform, the first two hex digits are a perfect pre-computed range
  bucketing into 256 equal slices: per-bucket totals reduce to a
  256-row driver table (same bounded-driver-state rule as the manifest
  file lists), and the in-bucket window partitions by bucket — no
  ``Exchange SinglePartition`` anywhere (plan-gated in tests).
* **Export** writes ``partitionBy(shard)`` with rows sorted by the
  shuffle key inside each shard, so a trainer streams each shard file
  in its final read order — no shuffle at read time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from f1_data_pipeline_spark.catalog import Tables
from f1_data_pipeline_spark.operators.text import _HEX_ALPHABET
from f1_data_pipeline_spark.queries import query


def _shuffle_key(id_col: str, salt: str) -> F.Column:
    """The deterministic shuffle order: full md5 hex of (id ‖ salt)."""
    return F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))


def _hex_val(col: F.Column, digits: int, offset: int = 0) -> F.Column:
    """Integer value of ``digits`` hex chars of ``col`` starting at
    1-based position ``offset+1`` — engine-portable (no conv())."""
    out = None
    for i in range(digits):
        d = (
            F.instr(F.lit(_HEX_ALPHABET), F.substring(col, offset + i + 1, 1)) - 1
        ) * (16 ** (digits - 1 - i))
        out = d if out is None else out + d
    return out


def shard_assign(
    df: DataFrame,
    n_shards: int,
    token_col: str | None = None,
    id_col: str = "doc_id",
    salt: str = "shard-v1",
) -> DataFrame:
    """Assign every row a ``shard`` in [0, n_shards) such that (a) rows
    are globally shuffled — shard membership and within-shard order
    follow ``md5(id‖salt)`` — and (b) shards are TOKEN-BALANCED: the
    split points are the ideal total/n boundaries of the cumulative
    token sum over the shuffle order, so each shard's token count
    differs from ideal by at most one document (contiguous split), not
    the O(sqrt) drift of independent hash-mod assignment. ``token_col``
    None balances by row count.

    Returns the input columns plus ``shard`` (int) and ``__h`` (the
    shuffle key — kept so downstream writers can sort by it; drop it if
    not needed).
    Plan: one scan for the 256-row bucket-total table (driver-bounded),
    then one bucket-partitioned window — no single-partition exchange
    (plan-gated in tests/test_operators.py)."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    # NULL weights coerce to 0 so they trip the non-positive guard
    # instead of silently producing NULL shard assignments
    w = (
        F.coalesce(F.col(token_col).cast("long"), F.lit(0))
        if token_col
        else F.lit(1).cast("long")
    )
    h = _shuffle_key(id_col, salt)
    keyed = df.withColumn("__h", h).withColumn("__w", w)
    # md5 uniformity makes the first 2 hex digits an exact 256-way range
    # bucketing of the shuffle order: bucket boundaries ARE key-prefix
    # boundaries, so offsets + in-bucket windows compose to the global
    # cumulative sum with zero sampling and zero approximation. The
    # min-weight guard rides the same aggregate — no extra corpus pass.
    keyed = keyed.withColumn("__b", _hex_val(F.col("__h"), 2))
    stats = keyed.groupBy("__b").agg(
        F.sum("__w").alias("t"), F.min("__w").alias("mn")
    ).collect()
    if stats and min(r["mn"] for r in stats) <= 0:
        raise ValueError(
            f"shard_assign: non-positive {token_col!r} values — a zero/"
            f"negative weight row cannot be placed on a token boundary"
        )
    totals = {r["__b"]: r["t"] for r in stats}
    total = sum(totals.values())
    if total == 0:
        # empty input: keep the contract shape (__h + shard) so writers
        # composing on the output still resolve their columns
        return keyed.drop("__w", "__b").withColumn("shard", F.lit(0).cast("int"))
    offsets, acc = {}, 0
    for b in sorted(totals):
        offsets[b] = acc
        acc += totals[b]
    off_map = F.create_map(
        *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
    )
    from pyspark.sql import Window

    win = (
        Window.partitionBy("__b")
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = off_map[F.col("__b")] + F.sum("__w").over(win) - F.col("__w")
    shard = F.least(
        F.floor(cum_before * F.lit(int(n_shards)) / F.lit(int(total))),
        F.lit(int(n_shards) - 1),
    ).cast("int")
    return keyed.withColumn("shard", shard).drop("__w", "__b")


def epoch_upsample(
    df: DataFrame,
    factors: DataFrame,
    by: str = "source",
    id_col: str = "doc_id",
    salt: str = "epoch-v1",
) -> DataFrame:
    """Materialize per-group repeat factors (e.g. the ``sample_factor``
    of ``text.temperature_mixture_weights``) into an actual corpus:
    every row appears ``floor(f)`` times plus one more with probability
    ``frac(f)`` — decided by the same exact-integer salted-md5 test as
    ``mixture_sample`` (first 4 hex digits vs floor(frac·65536)), so
    factors below 1 downsample and above 1 upsample through ONE code
    path, deterministically. Output: input columns + ``copy`` (1-based
    repeat index; trainers that decay repeated data key off it).

    Scan-local: broadcast factor join + explode(sequence) — zero corpus
    shuffle; output volume is Σ n_g·f_g by construction.

    Every group present in ``df`` MUST have a factor: a LEFT join with an
    executor-side raise on a NULL ``sample_factor`` replaces the silent
    inner-join drop — a hand-built factor table missing a source would
    otherwise silently delete that source from the corpus, the one
    failure mode a training-data pipeline must never have silently
    (matches ``temperature_mixture_weights``' non-positive-mass guard).
    To intentionally drop a group, give it factor 0."""
    u16 = F.expr(
        "("
        + " + ".join(
            f"(instr('{_HEX_ALPHABET}', substring(md5(concat(cast({id_col} AS STRING),"
            f" '{salt}')), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
            for i in range(4)
        )
        + ")"
    )
    f_col = F.when(
        F.col("sample_factor").isNotNull(), F.col("sample_factor").cast("double")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"epoch_upsample: no sample_factor for group {by}="),
                F.col(by).cast("string"),
                F.lit(" — factors must cover every group (use 0 to drop one)"),
            )
        ).cast("double")
    )
    n_copies = (
        F.floor(f_col)
        + (u16 < F.floor((f_col - F.floor(f_col)) * 65536)).cast("long")
    ).cast("int")
    return (
        df.join(F.broadcast(factors.select(by, "sample_factor")), by, "left")
        .withColumn("__n", n_copies)
        .drop("sample_factor")
        .where(F.col("__n") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(1), F.col("__n"))))
        .drop("__n")
    )


_H_SQL = "md5(CAST(doc_id AS VARCHAR) || 'shard-v1')"


@query(
    "x_shard_assign",
    f"""WITH h AS (SELECT doc_id, n_chars, {_H_SQL} AS hh FROM documents),
       c AS (SELECT doc_id, n_chars, hh,
                    SUM(n_chars) OVER (ORDER BY hh, doc_id)
                      - n_chars AS cum_before,
                    SUM(n_chars) OVER () AS total
             FROM h)
       SELECT CAST(LEAST(CAST(FLOOR(cum_before * 8.0 / total) AS BIGINT), 7)
                   AS INTEGER) AS shard,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS tok_sum
       FROM c GROUP BY 1 ORDER BY shard""",
)
def x_shard_assign(t: Tables) -> DataFrame:
    """Token-balanced deterministic sharding of the documents table into
    8 shards (balance weight = n_chars): per-shard doc and token counts.
    The oracle replays the exact cumulative-split arithmetic over the
    same md5 shuffle order. The contiguous split guarantees max-min
    token spread ≤ one document; the builder asserts the plan has no
    single-partition exchange (the scale trap a naive global cumsum
    window falls into)."""
    out = shard_assign(t.documents, 8, token_col="n_chars").drop("__h")
    agg = (
        out.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("tok_sum"),
        )
        .orderBy("shard")
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    # the bucketed cumsum must feed the Window through a hash exchange on
    # __b — a single-partition exchange ABOVE the window in the plan text
    # (plans print top-down) means the global-cumsum trap regressed
    head = plan.split("Window", 1)[0]
    if "Window" in plan and "Exchange SinglePartition" in head:
        raise RuntimeError(
            "shard_assign's cumulative window regressed to a "
            "single-partition exchange"
        )
    return agg


@query(
    "x_epoch_upsample",
    """WITH f AS (SELECT source,
                         1.0 + (CAST(substring(source, 4) AS INTEGER) % 3) * 0.5
                           AS sample_factor
                  FROM (SELECT DISTINCT source FROM documents)),
       v AS (SELECT d.source, f.sample_factor,
                    (strpos('0123456789abcdef', substring(md5(CAST(d.doc_id AS VARCHAR) || 'epoch-v1'), 1, 1)) - 1) * 4096
                  + (strpos('0123456789abcdef', substring(md5(CAST(d.doc_id AS VARCHAR) || 'epoch-v1'), 2, 1)) - 1) * 256
                  + (strpos('0123456789abcdef', substring(md5(CAST(d.doc_id AS VARCHAR) || 'epoch-v1'), 3, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substring(md5(CAST(d.doc_id AS VARCHAR) || 'epoch-v1'), 4, 1)) - 1) AS u16
             FROM documents d JOIN f USING (source)),
       n AS (SELECT source,
                    CAST(FLOOR(sample_factor) AS BIGINT)
                      + CASE WHEN u16 < FLOOR((sample_factor - FLOOR(sample_factor)) * 65536)
                             THEN 1 ELSE 0 END AS n_copies
             FROM v)
       SELECT source, CAST(sum(n_copies) AS BIGINT) AS n_rows,
              CAST(max(n_copies) AS BIGINT) AS max_copy
       FROM n GROUP BY source ORDER BY source""",
)
def x_epoch_upsample(t: Tables) -> DataFrame:
    """Epoch upsampling with deterministic 3-tier factors (1.0 / 1.5 /
    2.0 by source index mod 3): per-source materialized row counts and
    the max repeat index, via ``epoch_upsample``. The oracle replays the
    exact-integer fractional-repeat decision without exploding."""
    factors = (
        t.documents.select("source")
        .distinct()
        .select(
            "source",
            (
                1.0 + (F.substring("source", 4, 10).cast("int") % 3) * 0.5
            ).alias("sample_factor"),
        )
    )
    return (
        epoch_upsample(t.documents, factors)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.max("copy").cast("long").alias("max_copy"),
        )
        .orderBy("source")
    )
