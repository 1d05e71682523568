"""Mergeable-sketch analytics: HLL distinct, KLL quantiles, bottom-k
(KMV) consistent samples.

Why this exists at 100 TB: exact ``COUNT(DISTINCT)`` and exact quantiles
are the two aggregations that do NOT compose — you cannot add yesterday's
distinct count to today's, and you cannot average two medians. At cluster
scale that forces a full rescan of every partition ever written each time
a rollup is refreshed. Mergeable sketches fix the algebra: a kilobyte-
sized summary per (partition, key) that unions losslessly, so incremental
rollups touch only new partitions and re-aggregation up a hierarchy
(day→month, source×lang→source) is a merge of summaries, not a rescan of
rows. Spark 4 ships the Apache DataSketches implementations as native
Catalyst aggregates (``hll_sketch_agg``, ``kll_sketch_agg_bigint``) —
map-side partial aggregation means only sketch bytes ever cross the
shuffle (plan-gated in tests/test_sketches.py), and everything here stays
inside whole-stage-codegen'd JVM execution: no UDFs, no driver
participation beyond the driver's own collect of final KB-sized rows.

Public literature: Flajolet et al. 2007 (HyperLogLog), Karnin-Lang-
Liberty 2016 (KLL streaming quantiles), Bar-Yossef et al. 2002 (KMV /
bottom-k distinct estimation), Cohen & Kaplan 2007 (coordinated bottom-k
samples). The reference pipeline has no sketch surface (its scale never
required one); this module is part of the training-data extension layer,
same tier as operators/dedup.py. ``analytics.sketch_rollup`` /
``sketch_table`` (the gold-layer single-key face with a ``__TOTAL__``
row, query ``x_sketch_rollup``) delegate here — one implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from f1_data_pipeline_spark.catalog import Tables
from f1_data_pipeline_spark.queries import query

# ---------------------------------------------------------------------------
# HyperLogLog: mergeable distinct counts
# ---------------------------------------------------------------------------


def hll_distinct(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    lg_k: int = 14,
) -> DataFrame:
    """Per-key HLL sketch + cardinality estimate for ``value_col``.

    Returns ``keys + [sketch (binary), approx_distinct (long)]``. The
    sketch column is the point: persist it beside the estimate and any
    coarser rollup (or tomorrow's refresh) is ``hll_rollup`` over the
    stored sketches — never a rescan of the rows that produced them.
    lg_k=14 → 16 KiB registers, ~0.8% standard error; both bounds hold
    regardless of how many billions of rows fed the sketch.

    One shuffle keyed by ``keys``; ObjectHashAggregate with map-side
    ``partial_hll_sketch_agg`` means the shuffle moves one 16 KiB buffer
    per (task, key), not rows.
    """
    sk = df.groupBy(*keys).agg(F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sketch"))
    return sk.withColumn("approx_distinct", F.hll_sketch_estimate("sketch"))


def hll_rollup(sketches: DataFrame, keys: list[str]) -> DataFrame:
    """Merge finer-grained HLL sketches up to ``keys`` (possibly ``[]``
    for a global total) without touching the base rows.

    While sketches are in DataSketches' exact sparse mode (distincts ≲
    2^lg_k/4 per sketch) the union is lossless — merged partials give
    EXACTLY the estimate of a from-scratch direct build, which
    tests/test_sketches.py pins and ``x_hll_rollup`` exposes to the
    driver as a value-hashed row. Past sparse promotion, merge order can
    shift the estimate WITHIN the sketch's error envelope (~0.8% at
    lg_k=14) — rollups never lose the guarantee, just bit equality.
    Input is KB/group, so this is shuffle-light by construction.
    """
    grouped = sketches.groupBy(*keys) if keys else sketches.groupBy()
    merged = grouped.agg(F.hll_union_agg("sketch").alias("sketch"))
    return merged.withColumn("approx_distinct", F.hll_sketch_estimate("sketch"))


# ---------------------------------------------------------------------------
# KLL: mergeable quantiles
# ---------------------------------------------------------------------------


def kll_rollup(
    sketches: DataFrame, keys: list[str], probs: list[float]
) -> DataFrame:
    """Merge finer KLL sketches up to ``keys`` and re-read quantiles.

    Spark exposes KLL merge as a pairwise scalar (``kll_sketch_merge_
    bigint``), not an aggregate, so the fold is expressed declaratively:
    ``collect_list`` the subgroup sketches per output key (bounded —
    #subgroups × a fixed-size sketch, KBs) and ``F.aggregate`` them with
    the pairwise merge, entirely executor-side. Unlike HLL, KLL merge is
    compaction-order-dependent, so the rolled-up sketch is not
    bit-identical to a direct build — but it carries the same rank-error
    guarantee, which is what the tests pin.
    """
    pvec = F.array(*[F.lit(float(p)) for p in probs])
    grouped = sketches.groupBy(*keys) if keys else sketches.groupBy()
    lst = grouped.agg(F.collect_list("sketch").alias("sks"))
    merged = lst.select(
        *keys,
        F.aggregate(
            F.slice("sks", 2, F.greatest(F.size("sks") - 1, F.lit(0))),
            F.element_at("sks", 1),
            lambda acc, x: F.kll_sketch_merge_bigint(acc, x),
        ).alias("sketch"),
    )
    return merged.withColumn("quantiles", F.kll_sketch_get_quantile_bigint("sketch", pvec))


# ---------------------------------------------------------------------------
# Bottom-k (KMV) consistent sample
# ---------------------------------------------------------------------------


def bottomk_sample(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    k: int,
    salt: str,
) -> DataFrame:
    """Deterministic uniform sample of ``k`` rows per key group: the k
    smallest md5(id‖salt) values — the KMV / bottom-k sketch's member
    set (Bar-Yossef et al. 2002) used as a sample.

    Properties exact row-level sampling can't give you:
    - **Consistent**: selection is a pure function of (id, salt, k) — the
      same ids are chosen under any partitioning, retry, arrival order,
      or engine (the oracle reproduces the sample bit-for-bit in DuckDB).
    - **Coordinated**: two tables sampled with the same salt select the
      SAME ids (Cohen & Kaplan 2007), so samples stay join-compatible —
      sample the docs table and the embeddings table coherently.
    - **Mergeable**: the union of two groups' bottom-k sets, re-truncated
      to k, is the bottom-k of the union — incremental refresh keeps the
      stored sample valid without resampling history; and (k−1)/h_(k)
      over the normalized k-th hash is a distinct-count estimator.

    Plan shape: one window shuffle keyed by the group columns, and the
    rank predicate compiles to WindowGroupLimit — each task keeps a
    k-row heap per group, so no group is ever materialized in full
    (the same plan-gated shape as the W1 top-N family).
    """
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(*keys).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Correctness-corpus rows
# ---------------------------------------------------------------------------

_BK_K = 20
_BK_SALT = "bk-v1"


@query(
    "x_bottomk_sample",
    f"""WITH h AS (
         SELECT source, doc_id,
                md5(CAST(doc_id AS VARCHAR) || '{_BK_SALT}') AS hh
         FROM documents),
       r AS (SELECT source, doc_id,
                    row_number() OVER (PARTITION BY source
                                       ORDER BY hh, doc_id) AS rn
             FROM h)
       SELECT source, doc_id FROM r WHERE rn <= {_BK_K}
       ORDER BY source, doc_id""",
)
def x_bottomk_sample(t: Tables) -> DataFrame:
    """Bottom-k consistent sample: {k} documents per source, selected by
    smallest md5(doc_id‖salt) — deterministic under any partitioning and
    reproduced bit-for-bit by the oracle. WindowGroupLimit plan-gated."""
    s = bottomk_sample(t.documents, ["source"], "doc_id", _BK_K, _BK_SALT)
    return s.select("source", "doc_id").orderBy("source", "doc_id")


@query("x_hll_rollup", None)  # approx estimator; identity asserted in values
def x_hll_rollup(t: Tables) -> DataFrame:
    """Mergeable-distinct rollup over documents: per-(source,lang) HLL
    partials → per-source union — the incremental path — side by side
    with a direct per-source sketch build and the exact count. At this
    corpus's per-source cardinalities the sketches stay in exact sparse
    mode, so merged == direct exactly and the value hash pins that the
    incremental rollup loses nothing; ``err_pct`` pins the estimator's
    accuracy against the exact count. Rows-only because no SQL engine
    shares Spark's sketch registers."""
    partials = hll_distinct(t.documents, ["source", "lang"], "doc_id")
    merged = hll_rollup(partials.select("source", "sketch"), ["source"]).select(
        "source", F.col("approx_distinct").alias("merged_distinct")
    )
    direct = hll_distinct(t.documents, ["source"], "doc_id").select(
        "source", F.col("approx_distinct").alias("direct_distinct")
    )
    exact = t.documents.groupBy("source").agg(
        F.countDistinct("doc_id").alias("exact_distinct")
    )
    return (
        merged.join(direct, "source")
        .join(exact, "source")
        .select(
            "source",
            "merged_distinct",
            "direct_distinct",
            "exact_distinct",
            F.round(
                F.abs(F.col("merged_distinct") - F.col("exact_distinct"))
                * 100.0
                / F.col("exact_distinct"),
                2,
            ).alias("err_pct"),
        )
        .orderBy("source")
    )


_KLL_PROBS = [0.5, 0.9, 0.99]


@query("x_kll_quantiles", None)  # approx estimator; rank error pinned in tests
def x_kll_quantiles(t: Tables) -> DataFrame:
    """Mergeable-quantile rollup over document lengths: per-(source,lang)
    KLL partials folded up to per-source p50/p90/p99 of n_chars. The
    rank-error envelope vs the exact sorted order is pinned in
    tests/test_sketches.py. Rows-only: KLL's compaction decisions are
    implementation-specific, so no external engine reproduces them."""
    partials = t.documents.groupBy("source", "lang").agg(
        F.kll_sketch_agg_bigint(F.col("n_chars").cast("long"), F.lit(200)).alias(
            "sketch"
        )
    )
    rolled = kll_rollup(partials, ["source"], _KLL_PROBS)
    # NOTE: KLL's final merge folds per-task partial buffers in
    # completion order, so unlike HLL this row is only empirically
    # stable (verified across processes at driver sf) — its correctness
    # contract is the rank-error envelope, which is what the driver's
    # rows-only check plus the pytest bounds actually pin.
    return rolled.select(
        "source",
        F.element_at("quantiles", 1).alias("p50"),
        F.element_at("quantiles", 2).alias("p90"),
        F.element_at("quantiles", 3).alias("p99"),
    ).orderBy("source")


def kmv_distinct_estimate(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    k: int,
    salt: str,
) -> DataFrame:
    """Per-key KMV (k-minimum-values) distinct estimate from the same
    bottom-k machinery as ``bottomk_sample``: with h = k-th smallest
    md5-derived hash normalized to [0,1), distinct ≈ (k−1)/h (Bar-Yossef
    et al. 2002, rel. error ~1/√k); groups holding fewer than k distinct
    ids report their EXACT count (the sketch contains every id).

    Unlike HLL this estimator is a pure deterministic function of the
    id set — no sketch-mode promotions, no merge-order effects — and its
    member set doubles as the coordinated sample, so one bottom-k pass
    yields sample + estimate. Hash normalization uses the first 13 hex
    chars (52 bits — exact in a double). Same WindowGroupLimit plan as
    ``bottomk_sample`` plus one per-group aggregate.

    Returns ``keys + [n_held, approx_distinct]``.
    """
    ids = df.select(*keys, id_col).distinct()
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    hnorm = (
        F.conv(F.substring(h, 1, 13), 16, 10).cast("double") / F.lit(float(16**13))
    )
    w = Window.partitionBy(*keys).orderBy(hnorm.asc(), F.col(id_col).asc())
    bottom = (
        ids.withColumn("__h", hnorm)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
    )
    agg = bottom.groupBy(*keys).agg(
        F.count("*").alias("n_held"), F.max("__h").alias("__hk")
    )
    return agg.select(
        *keys,
        "n_held",
        F.when(F.col("n_held") < k, F.col("n_held").cast("double"))
        .otherwise((F.lit(float(k - 1))) / F.col("__hk"))
        .alias("approx_distinct"),
    )


@query(
    "x_kmv_distinct",
    f"""WITH d AS (SELECT DISTINCT source, doc_id FROM documents),
       h AS (SELECT source, doc_id,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{_BK_SALT}'),
                                   1, 13) AS BIGINT)
                 / 4503599627370496.0 AS hn
             FROM d),
       r AS (SELECT source, hn,
                    row_number() OVER (PARTITION BY source
                                       ORDER BY hn, doc_id) AS rn FROM h),
       b AS (SELECT source, count(*) AS n_held, max(hn) AS hk
             FROM r WHERE rn <= 64 GROUP BY source),
       e AS (SELECT source, count(DISTINCT doc_id) AS exact_distinct
             FROM documents GROUP BY source)
       SELECT b.source, CAST(n_held AS BIGINT) AS n_held,
              ROUND(CASE WHEN n_held < 64 THEN CAST(n_held AS DOUBLE)
                         ELSE 63.0 / hk END, 3) AS approx_distinct,
              CAST(exact_distinct AS BIGINT) AS exact_distinct
       FROM b JOIN e USING (source) ORDER BY source""",
)
def x_kmv_distinct(t: Tables) -> DataFrame:
    """Per-source KMV distinct estimate over doc_id (k=64) — the
    deterministic counterpart of x_hll_rollup: a pure function of the id
    set (no sketch modes, no merge-order effects), sharing its bottom-k
    pass with the coordinated sample. Oracle-checked bit-for-bit: the
    hash normalization divides the first 13 hex chars by 2^52 on both
    engines (DuckDB via ``CAST('0x…' AS BIGINT)``, Spark via ``conv``),
    both exact in a double, so even the (k−1)/h_(k) division agrees to
    the last bit."""
    est = kmv_distinct_estimate(t.documents, ["source"], "doc_id", 64, _BK_SALT)
    exact = t.documents.groupBy("source").agg(
        F.countDistinct("doc_id").alias("exact_distinct")
    )
    return (
        est.join(exact, "source")
        .select(
            "source",
            "n_held",
            F.round("approx_distinct", 3).alias("approx_distinct"),
            "exact_distinct",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Count-min sketch: mergeable frequency estimates
# ---------------------------------------------------------------------------


def cms_build(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    width: int = 256,
    depth: int = 4,
    salt: str = "cms-v1",
    weight_col: str | None = None,
) -> DataFrame:
    """Per-key count-min sketch (Cormode & Muthukrishnan 2005) over
    ``value_col`` occurrences, as a ``keys + [row, bucket, cnt]`` COO
    counter table — ``depth`` hash rows × ``width`` buckets.

    The frequency-estimation member of the sketch family: HLL answers
    "how many distinct", Misra-Gries answers "which values are heavy",
    CMS answers "how often does value v occur" for ANY v in O(d) cell
    probes, with one-sided error (never an underestimate, overestimate
    ≤ εN with ε ≈ e/width at high probability per probe row).

    Two properties the other sketches don't give bit-for-bit:
    - **Deterministic**: cells are md5(value‖salt‖row) mod width —
      a pure function of the multiset, reproducible by any engine
      (the ``x_cms_freq`` oracle re-derives every counter in DuckDB).
    - **Exactly mergeable**: counters are plain integers, so
      summing per-subgroup counters equals the direct build
      EXACTLY (element-wise sums commute) — no sparse/dense promotion
      caveats, the strongest incremental-rollup algebra in the family.

    Plan shape: one shuffle. The ``depth``-fold explode happens
    scan-side, and hash-aggregation map-side combines to at most
    depth × width cells per (task, key) before the exchange — the
    shuffle moves bounded sketch cells, never value occurrences. At
    100 TB the sketch table is KBs per key regardless of row count.

    ``weight_col``: build from PRE-AGGREGATED counts instead of raw
    occurrences — each row contributes ``weight_col`` to its cells. The
    counters are EXACTLY those of the occurrence-level build over the
    multiset the counts describe (integer sums commute), so a build over
    ``groupBy(value).count()`` output is bit-identical to the direct
    build while hashing each distinct value once instead of once per
    occurrence.
    """
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    v = F.col(value_col).cast("string")
    wcols = [F.col(weight_col).alias("__wt")] if weight_col else []
    cells = df.select(*keys, v.alias("__v"), *wcols).select(
        *keys, "__v", *(["__wt"] if weight_col else []), rows
    )
    h = F.md5(F.concat(F.col("__v"), F.lit(salt), F.col("row").cast("string")))
    bucket = (F.conv(F.substring(h, 1, 13), 16, 10).cast("long") % width).alias(
        "bucket"
    )
    cnt = (
        F.sum("__wt").cast("long").alias("cnt")
        if weight_col
        else F.count(F.lit(1)).alias("cnt")
    )
    return (
        cells.select(*keys, "row", bucket, *(["__wt"] if weight_col else []))
        .groupBy(*keys, "row", "bucket")
        .agg(cnt)
    )


def cms_estimate(
    cms: DataFrame,
    queries: DataFrame,
    value_col: str,
    width: int = 256,
    depth: int = 4,
    salt: str = "cms-v1",
    keys: list[str] | None = None,
) -> DataFrame:
    """Point-frequency estimates for every row of ``queries``: appends
    ``est_cnt`` = min over the ``depth`` probed cells (absent cell = 0,
    so values never seen estimate 0..εN like any other value).

    ``width``/``depth``/``salt`` must match the build, and ``keys`` must
    match the ``cms_build(keys=...)`` that produced the sketch (the key
    columns join too, so a keyed sketch probes only its own key's
    counters — mixing keys would silently break CMS's one-sided-error
    guarantee). The sketch columns are validated up front: pass the same
    ``keys``, or sum ``cnt`` by ``(row, bucket)`` down to a global sketch
    first.

    Output cardinality equals input cardinality: duplicate query rows
    each keep their own output row (an internal per-input-row ordinal
    keys the min-over-depth aggregate, then drops out).

    The sketch side is ≤ depth×width rows per key, so it is broadcast —
    estimating frequencies for a billion query rows is a scan-local
    map-side join plus one keyed min, with no shuffle of the sketch and
    no driver round-trip.
    """
    keys = list(keys or [])
    expected = set(keys) | {"row", "bucket", "cnt"}
    if set(cms.columns) != expected:
        raise ValueError(
            f"cms_estimate: sketch has columns {sorted(cms.columns)} but "
            f"keys={keys} expects exactly {sorted(expected)} — pass the "
            "keys= the sketch was built with, or sum cnt by (row, bucket) "
            "down to a global [row, bucket, cnt] sketch first"
        )
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    v = F.col(value_col).cast("string")
    qcols = queries.columns
    qcells = queries.select(
        *qcols, F.monotonically_increasing_id().alias("__qid")
    ).select(*qcols, "__qid", rows)
    h = F.md5(F.concat(v, F.lit(salt), F.col("row").cast("string")))
    bucket = (F.conv(F.substring(h, 1, 13), 16, 10).cast("long") % width).alias(
        "bucket"
    )
    probed = qcells.select(*qcols, "__qid", "row", bucket).join(
        F.broadcast(cms), [*keys, "row", "bucket"], "left"
    )
    return (
        probed.groupBy(*qcols, "__qid")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est_cnt"))
        .drop("__qid")
    )


_CMS_W = 64
_CMS_D = 3
_CMS_SALT = "cms-v1"


@query(
    "x_cms_freq",
    f"""WITH t AS (SELECT w FROM (
           SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)
         WHERE w <> ''),
       cells AS (SELECT r,
                   CAST('0x' || substr(md5(w || '{_CMS_SALT}'
                                           || CAST(r AS VARCHAR)), 1, 13)
                        AS BIGINT) % {_CMS_W} AS b
                 FROM t, unnest(generate_series(0, {_CMS_D - 1})) g(r)),
       cms AS (SELECT r, b, count(*) AS cnt FROM cells GROUP BY r, b),
       exact AS (SELECT w, count(*) AS exact_cnt FROM t GROUP BY w),
       top AS (SELECT w, exact_cnt FROM exact
               ORDER BY exact_cnt DESC, w LIMIT 20),
       qc AS (SELECT top.w, top.exact_cnt, g.r,
                   CAST('0x' || substr(md5(top.w || '{_CMS_SALT}'
                                           || CAST(g.r AS VARCHAR)), 1, 13)
                        AS BIGINT) % {_CMS_W} AS b
              FROM top, unnest(generate_series(0, {_CMS_D - 1})) g(r)),
       est AS (SELECT w, exact_cnt, min(coalesce(cnt, 0)) AS est_cnt
               FROM qc LEFT JOIN cms USING (r, b) GROUP BY w, exact_cnt)
       SELECT w AS word, CAST(est_cnt AS BIGINT) AS est_cnt,
              CAST(exact_cnt AS BIGINT) AS exact_cnt,
              CAST(est_cnt - exact_cnt AS BIGINT) AS overcount
       FROM est ORDER BY exact_cnt DESC, word""",
)
def x_cms_freq(t: Tables) -> DataFrame:
    """Count-min frequency estimates for the corpus's 20 most frequent
    words (width=64, depth=3): estimate beside exact count and the
    one-sided overcount. Deterministic end-to-end — the oracle rebuilds
    every CMS counter in DuckDB and the value hash pins bit equality,
    including the never-underestimate property (overcount ≥ 0 on every
    row by construction of the same cells).

    Both the sketch and the exact top-20 derive from ONE word-count
    aggregate (materialized once, vocabulary-sized): the CMS is built
    weighted from the counts — bit-identical counters, since integer
    sums commute — so the corpus is exploded once instead of
    1 + depth times."""
    words = (
        t.documents.select(
            F.explode(F.split(F.trim(F.col("text")), " ")).alias("w")
        )
        .where(F.col("w") != "")
    )
    wc = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .localCheckpoint(eager=True)
    )
    cms = cms_build(
        wc, [], "w", width=_CMS_W, depth=_CMS_D, salt=_CMS_SALT,
        weight_col="exact_cnt",
    )
    top = wc.orderBy(F.col("exact_cnt").desc(), F.col("w")).limit(20)
    est = cms_estimate(cms, top, "w", width=_CMS_W, depth=_CMS_D, salt=_CMS_SALT)
    return (
        est.select(
            F.col("w").alias("word"),
            "est_cnt",
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            (F.col("est_cnt") - F.col("exact_cnt")).cast("long").alias("overcount"),
        )
        .orderBy(F.col("exact_cnt").desc(), F.col("word"))
    )


def kmv_jaccard(
    elements: DataFrame,
    group_col: str,
    elem_col: str,
    k: int,
    salt: str,
) -> DataFrame:
    """Pairwise Jaccard similarity between every two groups' DISTINCT
    element sets, estimated from coordinated bottom-k sketches (Cohen &
    Kaplan 2007; Beyer et al. 2007: for U = bottom-k of the pair's
    union, J ≈ |{x ∈ U : x ∈ A ∧ x ∈ B}| / |U|).

    The sketch-side twin of ``text.source_overlap_matrix``: the exact
    matrix self-joins EVERY distinct fingerprint across sources —
    correct, but the join input is the full fingerprint table. Here the
    corpus is touched once (distinct + per-group WindowGroupLimit,
    exactly ``bottomk_sample``'s plan), and the pairwise phase runs on
    sketches only — groups² × k rows, KBs, independent of corpus size.
    Because the samples are COORDINATED (one shared salt), membership of
    the same element in two groups' sketches is directly comparable —
    the property plain per-group random samples don't have.

    Deterministic: a pure function of (element sets, salt, k) — an
    external engine reproduces every estimate bit-for-bit. Groups whose
    union holds ≤ k distinct elements get their EXACT Jaccard (the
    denominator is min(k, |union|) by construction).

    Returns ``(group_a, group_b, union_k, shared_k, jaccard_est)`` for
    every unordered pair (a < b).

    The bottom-k runs DIRECTLY on the (possibly duplicated) element rows
    with ``dense_rank`` — duplicates of an element tie on (hash, elem)
    and share one rank, so rank ≤ k selects exactly the k smallest
    DISTINCT elements and the residual dedup runs on ≤ k·dups rows. A
    distinct-first form would exchange the full element table once for
    the distinct and again for the window; rank-limit windows instead get
    map-side pruning (WindowGroupLimit keeps ~k rows per group per task
    before the exchange), so the corpus-sized table never shuffles."""
    e = elements.select(group_col, elem_col)
    h = F.md5(F.concat(F.col(elem_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(group_col).orderBy(F.col("__h").asc(), F.col(elem_col).asc())
    sk = (
        e.withColumn("__h", h)
        .withColumn("__dr", F.dense_rank().over(w))
        .where(F.col("__dr") <= k)
        .select(group_col, elem_col, "__h")
        .distinct()
        # materialize the sketch ONCE (bounded: k rows per group) — five
        # downstream consumers (two group lists, two membership joins)
        # would otherwise each re-run the corpus-wide bottom-k
        .localCheckpoint(eager=True)
    )
    # the group list comes from the SKETCH, not from the corpus-wide
    # distinct — every non-empty group has sketch rows
    g = sk.select(F.col(group_col).alias("group_a")).distinct()
    pairs = g.join(
        sk.select(F.col(group_col).alias("group_b")).distinct(),
        F.col("group_a") < F.col("group_b"),
    )
    # per-pair union membership via two equi-joins (no OR-join): each
    # side tags which group contributed the element, max() folds dupes
    ua = pairs.join(
        sk.select(F.col(group_col).alias("group_a"), elem_col, "__h"), "group_a"
    ).select("group_a", "group_b", elem_col, "__h", F.lit(1).alias("__a"), F.lit(0).alias("__b"))
    ub = pairs.join(
        sk.select(F.col(group_col).alias("group_b"), elem_col, "__h"), "group_b"
    ).select("group_a", "group_b", elem_col, "__h", F.lit(0).alias("__a"), F.lit(1).alias("__b"))
    memb = (
        ua.unionByName(ub)
        .groupBy("group_a", "group_b", elem_col, "__h")
        .agg(F.max("__a").alias("__ina"), F.max("__b").alias("__inb"))
    )
    w2 = Window.partitionBy("group_a", "group_b").orderBy(
        F.col("__h").asc(), F.col(elem_col).asc()
    )
    u = memb.withColumn("__rn", F.row_number().over(w2)).where(F.col("__rn") <= k)
    return u.groupBy("group_a", "group_b").agg(
        F.count("*").cast("long").alias("union_k"),
        F.sum(F.col("__ina") * F.col("__inb")).cast("long").alias("shared_k"),
        F.round(
            F.sum(F.col("__ina") * F.col("__inb")) * 1.0 / F.count("*"), 4
        ).alias("jaccard_est"),
    )


_KJ_K = 64
_KJ_SALT = "kj-v1"


@query(
    "x_kmv_jaccard",
    f"""WITH w AS (SELECT doc_id, source, string_split(trim(text), ' ') AS w
                  FROM documents),
       fp AS (SELECT DISTINCT source,
                     md5(array_to_string(list_slice(w, s, s + 7), ' ')) AS fp
              FROM w, unnest(generate_series(1, len(w) - 7)) t(s)
              WHERE len(w) >= 8),
       sk AS (SELECT source, fp, hh FROM (
                SELECT source, fp, md5(fp || '{_KJ_SALT}') AS hh,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY md5(fp || '{_KJ_SALT}'), fp) AS rn
                FROM fp) WHERE rn <= {_KJ_K}),
       p AS (SELECT a.source AS ga, b.source AS gb
             FROM (SELECT DISTINCT source FROM fp) a,
                  (SELECT DISTINCT source FROM fp) b
             WHERE a.source < b.source),
       m AS (SELECT p.ga, p.gb, s.fp, s.hh,
                    max(CASE WHEN s.source = p.ga THEN 1 ELSE 0 END) AS in_a,
                    max(CASE WHEN s.source = p.gb THEN 1 ELSE 0 END) AS in_b
             FROM p JOIN sk s ON s.source = p.ga OR s.source = p.gb
             GROUP BY p.ga, p.gb, s.fp, s.hh),
       r AS (SELECT *, row_number() OVER (PARTITION BY ga, gb
                                          ORDER BY hh, fp) AS rn FROM m)
       SELECT ga AS source_a, gb AS source_b,
              CAST(count(*) AS BIGINT) AS union_k,
              CAST(sum(in_a * in_b) AS BIGINT) AS shared_k,
              ROUND(sum(in_a * in_b) * 1.0 / count(*), 4) AS jaccard_est
       FROM r WHERE rn <= {_KJ_K}
       GROUP BY ga, gb ORDER BY source_a, source_b""",
)
def x_kmv_jaccard(t: Tables) -> DataFrame:
    """Cross-source 8-gram Jaccard ESTIMATED from coordinated bottom-k
    sketches (k=64) — the sketch-cost answer to the question
    ``x_source_overlap`` answers exactly: how much do two sources'
    distinct-shingle vocabularies overlap? One corpus pass builds the
    per-source sketches; the pairwise phase never re-touches the corpus.
    Deterministic end-to-end, so the oracle reproduces every estimate
    bit-for-bit (same md5 order, same tie-break, same ROUND).

    The shingle explode carries ``source`` directly (the old form
    dropped it and re-attached it by shuffling shingle TEXT through a
    ``doc_id`` join), and the one distinct lives inside ``kmv_jaccard``
    — shingle text never shuffles and the fingerprint table is
    exchanged once, not three times."""
    n = 8
    idx = ", ".join(f"w[i+{k}]" for k in range(n))
    fp = (
        t.documents.select("source", "text")
        .withColumn("w", F.split(F.trim(F.col("text")), " "))
        .where(F.size("w") >= n)
        .select(
            F.col("source"),
            F.expr(
                f"explode(array_distinct(transform(sequence(0, size(w)-{n}), "
                f"i -> concat_ws(' ', {idx}))))"
            ).alias("shingle"),
        )
        .select("source", F.md5("shingle").alias("fp"))
    )
    return (
        kmv_jaccard(fp, "source", "fp", _KJ_K, _KJ_SALT)
        .withColumnRenamed("group_a", "source_a")
        .withColumnRenamed("group_b", "source_b")
        .orderBy("source_a", "source_b")
    )


def kmv_set_ops(
    elements: DataFrame,
    group_col: str,
    elem_col: str,
    k: int,
    salt: str,
) -> DataFrame:
    """Pairwise SET-OPERATION cardinality estimates between every two
    groups' distinct element sets, from one pass of coordinated bottom-k
    sketches: |A∪B| via the KMV estimator over the union's bottom-k
    (Bar-Yossef et al. 2002 — bottom-k(A∪B) ⊆ bottom-k(A) ∪ bottom-k(B),
    so the union sketch needs no second corpus pass), |A∩B| via
    J·|A∪B| (Beyer et al. 2007). The distinct-count complement of
    ``kmv_jaccard``'s similarity answer: "how MANY elements do these two
    sources share / how many would the merged source hold" at sketch
    cost — groups² × k pairwise rows, independent of corpus size.

    Pairs whose union holds ≤ k distinct elements get EXACT answers
    (the union sketch contains every element). Deterministic end-to-end:
    hashes are the normalized first 13 hex chars of md5(elem‖salt)
    (52 bits — exact in a double), ordering ties broken on the element,
    so an external engine reproduces every estimate bit-for-bit.

    Returns ``(group_a, group_b, union_k, shared_k, jaccard_est,
    union_est, inter_est)`` for every unordered pair (a < b)."""
    e = elements.select(group_col, elem_col)
    h = F.md5(F.concat(F.col(elem_col).cast("string"), F.lit(salt)))
    hnorm = (
        F.conv(F.substring(h, 1, 13), 16, 10).cast("double") / F.lit(float(16**13))
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("__h").asc(), F.col(elem_col).asc()
    )
    sk = (
        e.withColumn("__h", hnorm)
        # dense_rank over the raw rows: duplicates tie on (hash, elem) and
        # share one rank, so rank <= k is the bottom-k of the DISTINCT set
        # and the residual dedup runs on <= k*dups rows — the corpus-sized
        # table never shuffles (map-side WindowGroupLimit pruning), same
        # shape as kmv_jaccard
        .withColumn("__dr", F.dense_rank().over(w))
        .where(F.col("__dr") <= k)
        .select(group_col, elem_col, "__h")
        .distinct()
        # bounded (k rows per group); materialized once for the four
        # downstream consumers, same discipline as kmv_jaccard
        .localCheckpoint(eager=True)
    )
    g = sk.select(F.col(group_col).alias("group_a")).distinct()
    pairs = g.join(
        sk.select(F.col(group_col).alias("group_b")).distinct(),
        F.col("group_a") < F.col("group_b"),
    )
    ua = pairs.join(
        sk.select(F.col(group_col).alias("group_a"), elem_col, "__h"), "group_a"
    ).select(
        "group_a", "group_b", elem_col, "__h",
        F.lit(1).alias("__a"), F.lit(0).alias("__b"),
    )
    ub = pairs.join(
        sk.select(F.col(group_col).alias("group_b"), elem_col, "__h"), "group_b"
    ).select(
        "group_a", "group_b", elem_col, "__h",
        F.lit(0).alias("__a"), F.lit(1).alias("__b"),
    )
    memb = (
        ua.unionByName(ub)
        .groupBy("group_a", "group_b", elem_col, "__h")
        .agg(F.max("__a").alias("__ina"), F.max("__b").alias("__inb"))
    )
    w2 = Window.partitionBy("group_a", "group_b").orderBy(
        F.col("__h").asc(), F.col(elem_col).asc()
    )
    u = memb.withColumn("__rn", F.row_number().over(w2)).where(F.col("__rn") <= k)
    agg = u.groupBy("group_a", "group_b").agg(
        F.count(F.lit(1)).cast("long").alias("union_k"),
        F.sum(F.col("__ina") * F.col("__inb")).cast("long").alias("shared_k"),
        F.max("__h").alias("__hk"),
    )
    jacc = F.col("shared_k") * 1.0 / F.col("union_k")
    union_est = F.when(
        F.col("union_k") < k, F.col("union_k").cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.col("__hk"))
    return agg.select(
        "group_a",
        "group_b",
        "union_k",
        "shared_k",
        F.round(jacc, 4).alias("jaccard_est"),
        F.round(union_est, 3).alias("union_est"),
        F.round(jacc * union_est, 3).alias("inter_est"),
    )


_KS_K = 64
_KS_SALT = "ks-v1"


@query(
    "x_kmv_setops",
    f"""WITH d AS (SELECT DISTINCT event_type,
                     CAST(user_id AS VARCHAR) || '@'
                       || CAST(CAST(ts AS DATE) AS VARCHAR) AS ud
                   FROM events),
       h AS (SELECT event_type, ud,
               CAST('0x' || substr(md5(ud || '{_KS_SALT}'),
                                   1, 13) AS BIGINT)
                 / 4503599627370496.0 AS hn
             FROM d),
       sk AS (SELECT event_type, ud, hn FROM (
                SELECT event_type, ud, hn,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY hn, ud) AS rn
                FROM h) WHERE rn <= {_KS_K}),
       p AS (SELECT a.event_type AS ga, b.event_type AS gb
             FROM (SELECT DISTINCT event_type FROM sk) a,
                  (SELECT DISTINCT event_type FROM sk) b
             WHERE a.event_type < b.event_type),
       m AS (SELECT p.ga, p.gb, s.ud, s.hn,
                    max(CASE WHEN s.event_type = p.ga THEN 1 ELSE 0 END) AS in_a,
                    max(CASE WHEN s.event_type = p.gb THEN 1 ELSE 0 END) AS in_b
             FROM p JOIN sk s ON s.event_type = p.ga OR s.event_type = p.gb
             GROUP BY p.ga, p.gb, s.ud, s.hn),
       r AS (SELECT *, row_number() OVER (PARTITION BY ga, gb
                                          ORDER BY hn, ud) AS rn FROM m),
       agg AS (SELECT ga, gb, count(*) AS union_k,
                      sum(in_a * in_b) AS shared_k, max(hn) AS hk
               FROM r WHERE rn <= {_KS_K} GROUP BY ga, gb)
       SELECT ga AS group_a, gb AS group_b,
              CAST(union_k AS BIGINT) AS union_k,
              CAST(shared_k AS BIGINT) AS shared_k,
              ROUND(shared_k * 1.0 / union_k, 4) AS jaccard_est,
              ROUND(CASE WHEN union_k < {_KS_K} THEN CAST(union_k AS DOUBLE)
                         ELSE {_KS_K - 1}.0 / hk END, 3) AS union_est,
              ROUND(shared_k * 1.0 / union_k
                    * CASE WHEN union_k < {_KS_K} THEN CAST(union_k AS DOUBLE)
                           ELSE {_KS_K - 1}.0 / hk END, 3) AS inter_est
       FROM agg ORDER BY group_a, group_b""",
)
def x_kmv_setops(t: Tables) -> DataFrame:
    """Pairwise active-user-day set-operation estimates between event
    types (k=64) from coordinated bottom-k sketches: estimated union and
    intersection cardinalities beside the Jaccard — "how many user-days
    do click and purchase share / how many would the merged segment
    hold" at sketch cost. Elements are ``user_id@date`` so the sets
    genuinely differ (raw user sets are saturated at this corpus's
    scale). Deterministic end-to-end, so the oracle reproduces every
    estimate bit-for-bit (same 52-bit hash normalization as
    x_kmv_distinct, same tie-break, same ROUND)."""
    ud = F.concat(
        F.col("user_id").cast("string"),
        F.lit("@"),
        F.col("ts").cast("date").cast("string"),
    ).alias("ud")
    elems = t.events.select(F.col("event_type"), ud)
    return (
        kmv_set_ops(elems, "event_type", "ud", _KS_K, _KS_SALT)
        .orderBy("group_a", "group_b")
    )
