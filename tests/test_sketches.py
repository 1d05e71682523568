"""Mergeable-sketch operators (operators/sketches.py): HLL distinct,
KLL quantiles, bottom-k consistent samples.

What the tests pin:
- HLL: estimate accuracy vs exact; the sparse-mode union identity
  (rollup of partials == direct build on these corpus sizes — past
  sparse promotion the guarantee is the error envelope, not bit
  equality, see the streaming test); the partial-aggregation plan
  shape (sketch bytes cross the shuffle, not rows).
- KLL: returned quantiles respect the sketch's rank-error envelope
  against the exact sorted order, both per-group and after a
  collect_list+aggregate pairwise-merge rollup.
- bottom-k: exact agreement with an independent pandas re-derivation,
  invariance under repartitioning (consistency), coordination across
  two tables sharing a salt, and the WindowGroupLimit plan gate.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from f1_data_pipeline_spark.catalog import load_tables
from f1_data_pipeline_spark.operators.sketches import (
    _KLL_PROBS,
    bottomk_sample,
    hll_distinct,
    hll_rollup,
    kll_rollup,
    x_kll_quantiles,
)

_SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# HLL
# ---------------------------------------------------------------------------


def test_hll_estimate_accuracy(spark):
    # 3 groups with known distinct counts 1000 / 500 / 2000.
    df = spark.range(20000).select(
        (F.col("id") % 3).alias("g"),
        F.when(F.col("id") % 3 == 0, F.col("id") % 1000)
        .when(F.col("id") % 3 == 1, F.col("id") % 500)
        .otherwise(F.col("id") % 2000)
        .alias("v"),
    )
    got = {r["g"]: r["approx_distinct"] for r in hll_distinct(df, ["g"], "v").collect()}
    # lg_k=14 → ~0.8% standard error; allow 3 sigma.
    for g, exact in {0: 1000, 1: 500, 2: 2000}.items():
        assert abs(got[g] - exact) <= max(3, 0.025 * exact), (g, got[g], exact)


def test_hll_rollup_identity_with_direct_build(spark):
    """Union of per-(source,lang) sketches == direct per-source sketch:
    the lossless-incremental-rollup property the module exists for."""
    docs = load_tables(spark, _SF).documents
    partials = hll_distinct(docs, ["source", "lang"], "doc_id")
    merged = {
        r["source"]: r["approx_distinct"]
        for r in hll_rollup(partials.select("source", "sketch"), ["source"]).collect()
    }
    direct = {
        r["source"]: r["approx_distinct"]
        for r in hll_distinct(docs, ["source"], "doc_id").collect()
    }
    assert merged == direct
    # and a global rollup (keys=[]) merges everything to one row
    glob = hll_rollup(partials.select("sketch"), []).collect()
    assert len(glob) == 1
    exact = docs.select(F.countDistinct("doc_id")).first()[0]
    assert abs(glob[0]["approx_distinct"] - exact) <= max(3, 0.025 * exact)


def test_hll_partial_aggregation_plan(spark):
    """The sketch agg must show map-side partial_hll_sketch_agg before the
    exchange — at 100 TB that is the difference between shuffling KB-sized
    register buffers and shuffling every row."""
    docs = load_tables(spark, _SF).documents
    p = hll_distinct(docs, ["source"], "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "partial_hll_sketch_agg" in p, p
    assert "ObjectHashAggregate" in p, p


# ---------------------------------------------------------------------------
# KLL
# ---------------------------------------------------------------------------


def _rank_of(sorted_vals: list[int], v: int) -> float:
    """Fraction of values <= v (max-rank convention, matching KLL)."""
    import bisect

    return bisect.bisect_right(sorted_vals, v) / len(sorted_vals)


@pytest.mark.parametrize("probs", [_KLL_PROBS])
def test_kll_quantiles_rank_error(spark, probs):
    """The registered ``x_kll_quantiles`` (per-(source, lang) partials
    folded to per-source by ``kll_rollup``) stays inside KLL's rank-error
    envelope against the exact sorted order."""
    t = load_tables(spark, _SF)
    docs = t.documents
    got = x_kll_quantiles(t).collect()
    exact = {
        r["source"]: sorted(x["n_chars"] for x in r["vals"])
        for r in docs.groupBy("source")
        .agg(F.collect_list(F.struct("n_chars")).alias("vals"))
        .collect()
    }
    # k=200 → normalized rank error ~0.4%; allow 2% plus small-n slack.
    for row in got:
        vals = exact[row["source"]]
        slack = 0.02 + 1.5 / len(vals)
        for p, q in zip(probs, (row["p50"], row["p90"], row["p99"])):
            assert abs(_rank_of(vals, q) - p) <= slack, (row["source"], p, q)


def test_kll_rollup_rank_error_after_merge(spark):
    """Pairwise-merged partials keep the rank-error guarantee (merge is
    order-dependent, so equality with a direct build is NOT asserted —
    the envelope is the contract)."""
    docs = load_tables(spark, _SF).documents
    partials = docs.groupBy("source", "lang").agg(
        F.kll_sketch_agg_bigint(F.col("n_chars").cast("long"), F.lit(200)).alias("sketch")
    )
    rolled = kll_rollup(partials, ["source"], [0.5, 0.9]).collect()
    exact = {
        r["source"]: sorted(x["n_chars"] for x in r["vals"])
        for r in docs.groupBy("source")
        .agg(F.collect_list(F.struct("n_chars")).alias("vals"))
        .collect()
    }
    for row in rolled:
        vals = exact[row["source"]]
        slack = 0.02 + 1.5 / len(vals)
        for p, q in zip([0.5, 0.9], row["quantiles"]):
            assert abs(_rank_of(vals, q) - p) <= slack, (row["source"], p, q)


def test_kll_rollup_single_subgroup_is_identity(spark):
    """A rollup over exactly one partial must return that same sketch's
    own quantiles (the F.aggregate fold's empty-tail edge). The partial
    is materialized ONCE and both paths read it — two separate
    aggregations of the same rows can legitimately differ, because the
    final KLL merge of per-task partial buffers is task-completion-order
    dependent (the same order-dependence kll_rollup documents)."""
    df = spark.range(1000).select(F.lit("only").alias("g"), F.col("id").alias("v"))
    partials = df.groupBy("g").agg(
        F.kll_sketch_agg_bigint(F.col("v").cast("long"), F.lit(200)).alias("sketch")
    )
    pdf = partials.collect()
    one = spark.createDataFrame(pdf, partials.schema)
    direct = one.select(
        F.kll_sketch_get_quantile_bigint("sketch", F.array(F.lit(0.5))).alias("q")
    ).collect()[0]["q"]
    rolled = kll_rollup(one, ["g"], [0.5]).collect()[0]["quantiles"]
    assert rolled == direct


# ---------------------------------------------------------------------------
# bottom-k consistent sample
# ---------------------------------------------------------------------------


def _expected_bottomk(rows, k, salt):
    """Independent pure-Python re-derivation of the bottom-k member set."""
    by_key: dict[str, list[tuple[str, int]]] = {}
    for source, doc_id in rows:
        h = hashlib.md5(f"{doc_id}{salt}".encode()).hexdigest()
        by_key.setdefault(source, []).append((h, doc_id))
    out = set()
    for source, hs in by_key.items():
        for _, doc_id in sorted(hs)[:k]:
            out.add((source, doc_id))
    return out


def test_bottomk_matches_independent_rederivation(spark):
    docs = load_tables(spark, _SF).documents
    got = {
        (r["source"], r["doc_id"])
        for r in bottomk_sample(docs, ["source"], "doc_id", 7, "t-v1")
        .select("source", "doc_id")
        .collect()
    }
    raw = [(r["source"], r["doc_id"]) for r in docs.select("source", "doc_id").collect()]
    assert got == _expected_bottomk(raw, 7, "t-v1")


def test_bottomk_invariant_under_repartitioning(spark):
    """Consistency: the same member set under any physical layout."""
    docs = load_tables(spark, _SF).documents
    a = {
        (r["source"], r["doc_id"])
        for r in bottomk_sample(docs, ["source"], "doc_id", 5, "t-v2").collect()
    }
    b = {
        (r["source"], r["doc_id"])
        for r in bottomk_sample(
            docs.repartition(7, "lang"), ["source"], "doc_id", 5, "t-v2"
        ).collect()
    }
    assert a == b


def test_bottomk_coordinated_across_tables(spark):
    """Two tables sampled with the same salt select the same ids — the
    coordinated-sampling property that keeps samples join-compatible."""
    t = load_tables(spark, _SF)
    ids_docs = {
        r["doc_id"]
        for r in bottomk_sample(
            t.documents.withColumn("g", F.lit(1)), ["g"], "doc_id", 25, "co-v1"
        ).collect()
    }
    emb = t.embeddings.withColumnRenamed("vec_id", "doc_id").withColumn("g", F.lit(1))
    common_ids = {r["doc_id"] for r in emb.join(t.documents, "doc_id", "semi").collect()}
    emb_common = emb.where(F.col("doc_id").isin(list(common_ids)))
    docs_common = t.documents.withColumn("g", F.lit(1)).where(
        F.col("doc_id").isin(list(common_ids))
    )
    s1 = {
        r["doc_id"]
        for r in bottomk_sample(emb_common, ["g"], "doc_id", 10, "co-v1").collect()
    }
    s2 = {
        r["doc_id"]
        for r in bottomk_sample(docs_common, ["g"], "doc_id", 10, "co-v1").collect()
    }
    assert s1 == s2
    assert ids_docs  # sanity: the unrestricted sample is non-empty


def test_bottomk_window_group_limit_plan(spark):
    """rank<=k must compile to WindowGroupLimit: each task keeps a k-row
    heap per group instead of materializing whole groups."""
    docs = load_tables(spark, _SF).documents
    p = (
        bottomk_sample(docs, ["source"], "doc_id", 20, "bk-v1")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in p, p


def test_hll_incremental_refresh_from_persisted_partials(spark, tmp_path):
    """The actual 100 TB workflow: day-1 partials persisted to parquet;
    day 2 arrives; ONLY day 2's rows are sketched and appended; the
    rollup over STORED sketches (no rescan of day 1) must equal a direct
    build over both days — the sparse-mode union identity (these
    cardinalities stay under the 2^14/4 sparse threshold), through a
    parquet round-trip of the binary sketch column."""
    store = str(tmp_path / "sketch_store")
    day1 = spark.range(3000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") % 700).alias("v")
    )
    day2 = spark.range(3000, 5000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") % 1100).alias("v")
    )
    hll_distinct(day1, ["g"], "v").select("g", "sketch").write.parquet(store)
    hll_distinct(day2, ["g"], "v").select("g", "sketch").write.mode("append").parquet(store)
    rolled = {
        r["g"]: r["approx_distinct"]
        for r in hll_rollup(spark.read.parquet(store), ["g"]).collect()
    }
    direct = {
        r["g"]: r["approx_distinct"]
        for r in hll_distinct(day1.unionAll(day2), ["g"], "v").collect()
    }
    assert rolled == direct


def test_kmv_estimate_exact_below_k_and_bounded_above(spark):
    """Groups with < k distinct ids report exactly; larger groups land
    within ~3/sqrt(k) relative error of the true cardinality."""
    from f1_data_pipeline_spark.operators.sketches import kmv_distinct_estimate

    # contiguous id ranges so the per-group distinct counts are exact:
    # g0: ids 0..9999 % 50 → 50 distinct (< k); g1: % 4000 → 4000;
    # g2: ids 20000..29999 % 9000 → residues 2000..8999 ∪ 0..2999 = 9000
    df = spark.range(30000).select(
        (F.col("id") / 10000).cast("long").alias("g"),
        F.when(F.col("id") < 10000, F.col("id") % 50)
        .when(F.col("id") < 20000, F.col("id") % 4000)
        .otherwise(F.col("id") % 9000)
        .alias("v"),
    )
    got = {
        r["g"]: (r["n_held"], r["approx_distinct"])
        for r in kmv_distinct_estimate(df, ["g"], "v", 256, "kmv-t1").collect()
    }
    assert got[0] == (50, 50.0)
    import math

    for g, exact in {1: 4000, 2: 9000}.items():
        n_held, est = got[g]
        assert n_held == 256
        assert abs(est - exact) <= 3 / math.sqrt(256) * exact, (g, est, exact)


def test_kmv_matches_pure_python_replay(spark):
    """The estimate is a deterministic function of the id set — an
    independent Python re-derivation must agree to float precision."""
    from f1_data_pipeline_spark.operators.sketches import kmv_distinct_estimate

    docs = load_tables(spark, _SF).documents
    got = {
        r["source"]: r["approx_distinct"]
        for r in kmv_distinct_estimate(docs, ["source"], "doc_id", 16, "kmv-t2").collect()
    }
    raw = [(r["source"], r["doc_id"]) for r in docs.select("source", "doc_id").distinct().collect()]
    by_key: dict[str, list[float]] = {}
    for source, doc_id in raw:
        h = hashlib.md5(f"{doc_id}kmv-t2".encode()).hexdigest()
        by_key.setdefault(source, []).append(int(h[:13], 16) / 16**13)
    for source, hs in by_key.items():
        hs.sort()
        exp = float(len(hs)) if len(hs) < 16 else 15.0 / hs[15]
        assert abs(got[source] - exp) < 1e-9, (source, got[source], exp)


def test_kmv_jaccard_exact_below_k_and_estimates_above(spark):
    """Pairs whose union fits in the sketch report EXACT Jaccard; larger
    unions estimate within the bottom-k error envelope on planted sets
    with known overlap; output is invariant under repartitioning."""
    from pyspark.sql import functions as F

    from f1_data_pipeline_spark.operators.sketches import kmv_jaccard

    # small: A = {0..29}, B = {20..49} → J = 10/50 = 0.2, union 50 ≤ k
    small = spark.createDataFrame(
        [("A", i) for i in range(30)] + [("B", i) for i in range(20, 50)],
        "g string, e long",
    )
    r = kmv_jaccard(small, "g", "e", k=64, salt="kj-t").head()
    assert (r["union_k"], r["shared_k"]) == (50, 10)
    assert abs(r["jaccard_est"] - 0.2) < 1e-9

    # large: |A|=|B|=4000 with 2000 shared → J = 2000/6000 = 1/3;
    # k=256 → std error ~ sqrt(J(1-J)/k) ≈ 0.03
    big = spark.createDataFrame(
        [("A", i) for i in range(4000)] + [("B", i) for i in range(2000, 6000)],
        "g string, e long",
    )
    r = kmv_jaccard(big, "g", "e", k=256, salt="kj-t").head()
    assert r["union_k"] == 256
    assert abs(r["jaccard_est"] - 1 / 3) < 0.1, r
    # deterministic: identical under a different physical layout
    r2 = kmv_jaccard(big.repartition(17), "g", "e", k=256, salt="kj-t").head()
    assert (r2["union_k"], r2["shared_k"], r2["jaccard_est"]) == (
        r["union_k"], r["shared_k"], r["jaccard_est"],
    )
    # disjoint pair estimates zero
    z = spark.createDataFrame(
        [("A", i) for i in range(500)] + [("B", i + 10_000) for i in range(500)],
        "g string, e long",
    )
    assert kmv_jaccard(z, "g", "e", k=128, salt="kj-t").head()["jaccard_est"] == 0.0


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


def _cms_cells(value: str, salt: str, width: int, depth: int):
    """The d cells a value hashes to — independent pure-Python replay."""
    out = []
    for r in range(depth):
        h = hashlib.md5(f"{value}{salt}{r}".encode()).hexdigest()
        out.append((r, int(h[:13], 16) % width))
    return out


def test_cms_matches_pure_python_replay(spark):
    """Every counter cell and every estimate reproduced independently."""
    from f1_data_pipeline_spark.operators.sketches import cms_build, cms_estimate

    vals = ["a"] * 5 + ["b"] * 3 + ["c"] * 1 + ["dd"] * 7
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    W, D, S = 16, 3, "cms-t1"
    got = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_build(df, [], "v", width=W, depth=D, salt=S).collect()
    }
    expected: dict[tuple, int] = {}
    for v in vals:
        for cell in _cms_cells(v, S, W, D):
            expected[cell] = expected.get(cell, 0) + 1
    assert got == expected

    cms = cms_build(df, [], "v", width=W, depth=D, salt=S)
    q = spark.createDataFrame([("a",), ("b",), ("c",), ("dd",), ("zz",)], "v string")
    est = {
        r["v"]: r["est_cnt"]
        for r in cms_estimate(cms, q, "v", width=W, depth=D, salt=S).collect()
    }
    for v, exact in [("a", 5), ("b", 3), ("c", 1), ("dd", 7), ("zz", 0)]:
        replay = min(expected.get(cell, 0) for cell in _cms_cells(v, S, W, D))
        assert est[v] == replay
        assert est[v] >= exact  # one-sided error


def test_cms_never_underestimates_corpus_words(spark):
    """The CMS guarantee on real data: est >= exact for EVERY word."""
    from f1_data_pipeline_spark.operators.sketches import cms_build, cms_estimate

    words = (
        load_tables(spark, _SF)
        .documents.select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("w"))
        .where(F.col("w") != "")
    )
    cms = cms_build(words, [], "w", width=64, depth=3, salt="cms-t2")
    exact = words.groupBy("w").agg(F.count(F.lit(1)).alias("exact"))
    est = cms_estimate(cms, exact, "w", width=64, depth=3, salt="cms-t2")
    bad = est.where(F.col("est_cnt") < F.col("exact")).count()
    assert bad == 0


def test_cms_weighted_build_equals_occurrence_build(spark):
    """r13: building the sketch from pre-aggregated (value, count) rows
    (weight_col) must be bit-identical to the occurrence-level build —
    integer sums commute, so each distinct value is hashed once and
    contributes its count."""
    from f1_data_pipeline_spark.operators.sketches import cms_build

    words = (
        load_tables(spark, _SF)
        .documents.select(
            F.explode(F.split(F.trim(F.col("text")), " ")).alias("w")
        )
        .where(F.col("w") != "")
    )
    direct = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_build(words, [], "w", width=32, depth=4, salt="cms-t4").collect()
    }
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    weighted = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_build(
            wc, [], "w", width=32, depth=4, salt="cms-t4", weight_col="c"
        ).collect()
    }
    assert weighted == direct


def test_cms_invariant_under_repartitioning(spark):
    from f1_data_pipeline_spark.operators.sketches import cms_build

    df = spark.createDataFrame([(str(i % 97),) for i in range(3000)], "v string")
    a = sorted(map(tuple, cms_build(df, [], "v", 32, 3, "cms-t4").collect()))
    b = sorted(
        map(tuple, cms_build(df.repartition(13), [], "v", 32, 3, "cms-t4").collect())
    )
    assert a == b


def test_cms_build_partial_aggregation_plan(spark):
    """The shuffle must move combined sketch cells, not value
    occurrences: map-side partial_count before the exchange."""
    from f1_data_pipeline_spark.operators.sketches import cms_build

    df = spark.createDataFrame([("x",)], "v string")
    plan = (
        cms_build(df, [], "v", 32, 3, "p")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_count" in plan, plan


# ---------------------------------------------------------------------------
# KMV set-operation estimates
# ---------------------------------------------------------------------------


def test_kmv_setops_exact_below_k(spark):
    """Union fits the sketch → union, intersection, Jaccard all EXACT."""
    from f1_data_pipeline_spark.operators.sketches import kmv_set_ops

    small = spark.createDataFrame(
        [("A", i) for i in range(30)] + [("B", i) for i in range(20, 50)],
        "g string, e long",
    )
    r = kmv_set_ops(small, "g", "e", k=64, salt="ks-t").head()
    assert (r["union_k"], r["shared_k"]) == (50, 10)
    assert abs(r["jaccard_est"] - 0.2) < 1e-9
    assert r["union_est"] == 50.0
    assert abs(r["inter_est"] - 10.0) < 1e-9


def test_kmv_setops_estimates_above_k(spark):
    """|A|=|B|=4000, |A∩B|=2000 → union 6000, intersection 2000. With
    k=256 the KMV union estimate carries ~1/√k ≈ 6% error and the
    intersection inherits Jaccard noise — both pinned at 15%/25%."""
    from f1_data_pipeline_spark.operators.sketches import kmv_set_ops

    big = spark.createDataFrame(
        [("A", i) for i in range(4000)] + [("B", i) for i in range(2000, 6000)],
        "g string, e long",
    )
    r = kmv_set_ops(big, "g", "e", k=256, salt="ks-t").head()
    assert abs(r["union_est"] - 6000) / 6000 < 0.15, r
    assert abs(r["inter_est"] - 2000) / 2000 < 0.25, r
    # deterministic under relayout
    r2 = kmv_set_ops(big.repartition(17), "g", "e", k=256, salt="ks-t").head()
    assert (r2["union_est"], r2["inter_est"]) == (r["union_est"], r["inter_est"])


def test_cms_estimate_keyed_sketch_probes_only_its_key(spark):
    """r8 advice: probing a keyed sketch must join the key columns too —
    a (row, bucket)-only join would min over OTHER keys' counters and
    could underestimate, breaking the one-sided-error guarantee."""
    from f1_data_pipeline_spark.operators.sketches import cms_build, cms_estimate

    rows = [("s1", "a")] * 5 + [("s1", "b")] * 2 + [("s2", "a")] * 9
    df = spark.createDataFrame(rows, "src string, v string")
    W, D, S = 16, 3, "cms-t5"
    cms = cms_build(df, ["src"], "v", width=W, depth=D, salt=S)
    q = spark.createDataFrame(
        [("s1", "a"), ("s1", "b"), ("s2", "a"), ("s2", "b")], "src string, v string"
    )
    est = {
        (r["src"], r["v"]): r["est_cnt"]
        for r in cms_estimate(cms, q, "v", width=W, depth=D, salt=S, keys=["src"]).collect()
    }
    # per-key one-sided error: never below the per-key exact count
    for key, exact in [(("s1", "a"), 5), (("s1", "b"), 2), (("s2", "a"), 9), (("s2", "b"), 0)]:
        assert est[key] >= exact
    # and with width >> distinct values there are no collisions, so exact
    assert est[("s1", "a")] == 5 and est[("s2", "a")] == 9 and est[("s2", "b")] == 0


def test_cms_estimate_validates_sketch_columns(spark):
    """Passing a keyed sketch without keys= (or vice versa) must raise,
    not silently min across keys."""
    import pytest

    from f1_data_pipeline_spark.operators.sketches import cms_build, cms_estimate

    df = spark.createDataFrame([("s1", "a")], "src string, v string")
    keyed = cms_build(df, ["src"], "v", width=8, depth=2, salt="s")
    q = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(ValueError, match=r"sum cnt by \(row, bucket\)"):
        cms_estimate(keyed, q, "v", width=8, depth=2, salt="s")
    with pytest.raises(ValueError, match="keys"):
        cms_estimate(keyed.drop("src"), q, "v", width=8, depth=2, salt="s", keys=["src"])


def test_cms_estimate_preserves_duplicate_query_rows(spark):
    """r8 advice: callers probing a MULTISET of lookups keep one output
    row per input row — duplicates are not collapsed."""
    from f1_data_pipeline_spark.operators.sketches import cms_build, cms_estimate

    df = spark.createDataFrame([("a",)] * 4 + [("b",)], "v string")
    cms = cms_build(df, [], "v", width=16, depth=3, salt="cms-t6")
    q = spark.createDataFrame([("a",), ("a",), ("b",)], "v string")
    out = cms_estimate(cms, q, "v", width=16, depth=3, salt="cms-t6").collect()
    assert len(out) == 3
    assert sorted((r["v"], r["est_cnt"]) for r in out) == [("a", 4), ("a", 4), ("b", 1)]
