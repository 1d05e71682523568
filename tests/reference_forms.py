"""Reference forms the tests compare production paths against.

Each one is the plain, obviously-correct shape of an operator whose
production form is a faster kernel: the aggregate MinHash, the join-form
Jaccard verifier, the exhaustive cosine pair join, the Catalyst winnowing
expression, the per-occurrence BPE encoder, the keyed EWMA and the
Catalyst md5 bucket expression. No package code calls them; parity tests
pin each production path to its reference here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from f1_data_pipeline_spark import snaplog
from f1_data_pipeline_spark.operators.dedup import word_shingles
from f1_data_pipeline_spark.operators.similarity import as_double_vec, cosine
from f1_data_pipeline_spark.operators.text import (
    _HEX_ALPHABET,
    _bpe_encode_word,
    _winnow_gram_sql,
)
from f1_data_pipeline_spark.operators.windows import _ewma_out_schema


def minhash_signatures(shingles: DataFrame, num_hashes: int = 32) -> DataFrame:
    """(doc_id, sig_0..sig_{k-1}): min over xxhash64(salt_j, shingle).

    One groupBy with k min-aggregates — a single shuffle keyed by doc_id with
    full map-side partial aggregation, independent of document size.
    """
    aggs = [
        F.min(F.xxhash64(F.lit(j), F.col("shingle"))).alias(f"sig_{j}")
        for j in range(num_hashes)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def exact_jaccard_on_pairs(
    df: DataFrame,
    pairs: DataFrame,
    shingle_n: int = 3,
    text_col: str = "text",
    broadcast_doc_filter: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard for a GIVEN pair list — the verifier stage of
    the production near-dup pipeline, where ``pairs`` is the (tiny) LSH
    candidate set rather than the quadratic cross product the standalone
    ``x_dedup_ngram`` verifier enumerates.

    SIZE CONTRACT of ``broadcast_doc_filter`` (default True): the corpus
    prefilter broadcasts the distinct doc-id set of ``pairs``, which is
    correct and fastest when the pair list is candidate-scale (LSH/winnow
    output). A caller handing in an
    arbitrarily large external pair list must pass False, which leaves
    the semi-join strategy to the planner/AQE instead of forcing a
    broadcast past driver memory.

    Cost is |pairs| x avg-shingles: the corpus is first pruned to the
    documents the pair list names (a broadcast semi-join on the — by
    construction small — candidate id set, so docs with no candidate
    never shingle at all; the shingle subtree has three consumers, each
    of which would re-explode the full corpus otherwise), then candidates
    join the pruned shingle table twice on (doc_id, shingle) equi-keys;
    intersections aggregate with map-side partials. Nothing quadratic,
    nothing driver-side.

    EVERY handed-in pair gets a verdict: zero-intersection pairs AND
    pairs involving a document with fewer than ``shingle_n`` words (no
    shingles at all) come back with jaccard 0.0 rather than vanishing —
    all three per-doc joins are left joins with counts coalesced to 0.
    The 0.0-for-empty convention is deliberate: a verifier must not merge
    documents it cannot compare (two sub-shingle-length docs may be
    entirely unrelated); callers wanting empty==empty semantics can test
    length upstream."""
    p = pairs.select("d1", "d2")
    pair_docs = (
        p.select(F.col("d1").alias("doc_id"))
        .unionAll(p.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    if broadcast_doc_filter:
        pair_docs = F.broadcast(pair_docs)
    df = df.join(pair_docs, "doc_id", "left_semi")
    sh = word_shingles(df, text_col, shingle_n)
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        p.join(sh.alias("a"), p.d1 == F.col("a.doc_id"))
        .join(
            sh.alias("b"),
            (p.d2 == F.col("b.doc_id"))
            & (F.col("a.shingle") == F.col("b.shingle")),
        )
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("i"))
    )
    ca, cb = cnt.alias("ca"), cnt.alias("cb")
    denom = F.col("na") + F.col("nb") - F.col("i")
    return (
        p.join(inter, ["d1", "d2"], "left")
        .withColumn("i", F.coalesce("i", F.lit(0)))
        .join(ca, F.col("d1") == F.col("ca.doc_id"), "left")
        .join(cb, F.col("d2") == F.col("cb.doc_id"), "left")
        .withColumn("na", F.coalesce(F.col("ca.n"), F.lit(0)))
        .withColumn("nb", F.coalesce(F.col("cb.n"), F.lit(0)))
        .select(
            "d1",
            "d2",
            F.when(denom > 0, F.col("i").cast("double") / denom)
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
        )
    )


def cosine_near_dup_pairs_exact(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — exhaustive cartesian form.

    O(n²) BroadcastNestedLoopJoin: used to measure the recall of the
    LSH-bucketed ``similarity.cosine_near_dup_pairs``.
    """
    a = vectors.select(F.col(id_col).alias("id_a"), as_double_vec(vec_col).alias("va"))
    b = vectors.select(F.col(id_col).alias("id_b"), as_double_vec(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 4).alias("sim"))
        .where(F.col("sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def winnow_fingerprint_array(text: str = "text", k: int = 8, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS):
    rolling k-gram hashes, minimum per w-window, distinct-sorted
    ``array<bigint>``.

    Guarantees: any shared substring of length ≥ k + w - 1 yields at least
    one shared fingerprint (the winnowing theorem), so near-dup candidate
    generation can band on fingerprint membership
    (``dedup.winnow_candidate_pairs``). Entirely Catalyst higher-order
    functions over the scan — zero shuffle, zero Python; fingerprint sets
    are tiny relative to text so the 100 TB cost is the scan itself.
    ``text`` is a column NAME (the expression is built as SQL). Documents
    shorter than ``k`` fingerprint to the empty array."""
    grams = (
        f"transform(sequence(1, greatest(length({text})-{k}+1, 0)), "
        f"__i -> {_winnow_gram_sql('__i', k)})"
    ).format(col=text)
    # bind the gram array ONCE (transform-over-singleton is the SQL lambda
    # `let`): referencing the array expression twice would compute it twice
    return F.expr(
        f"CASE WHEN length({text}) < {k} THEN CAST(array() AS ARRAY<BIGINT>) ELSE "
        f"transform(array({grams}), __g -> "
        f"array_sort(array_distinct("
        f"transform(sequence(1, greatest(size(__g)-{w}+1, 1)), "
        f"__p -> array_min(slice(__g, __p, {w}))))))[0] END"
    )


def bpe_encode(
    df: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode documents with a learned BPE merge table (the serving twin
    of ``bpe_train``): per document, the exact token count and sequence
    under the merges, applied in rank order within each word.

    The merge table rides to executors as a broadcast list (vocab-class,
    tiny); encoding is a scan-local Arrow kernel — 100 TB encodes at scan
    speed with zero shuffle. Per-word results are memoized per batch (the
    Zipf skew of natural text makes the word cache hit constantly).
    Tokenization is exactly ``split(trim(text), ' ')`` (space-only strip/
    split) and null-text documents emit no row — pinned identical to
    ``bpe_encode_fast``'s declarative path by tests."""
    import pandas as pd

    ordered = [(m[1], m[2]) for m in sorted(merges, key=lambda m: m[0])]
    bc = df.sparkSession.sparkContext.broadcast(ordered)

    def kernel(batches):
        table = bc.value
        cache = {}
        for pdf in batches:
            ids, counts, toks = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    # tokens(NULL) is NULL → the fast path's explode emits
                    # no row; the reference must agree, not encode "None"
                    continue
                out = []
                # strip/split on SPACE only, mirroring Catalyst
                # split(trim(text), ' ') exactly — Python's bare strip()
                # also removes \n/\t, which Spark's trim does not
                for w in str(text).strip(" ").split(" "):
                    out.extend(_bpe_encode_word(w, table, cache))
                ids.append(did)
                counts.append(len(out))
                toks.append(out)
            if ids:  # a batch of only null-text docs yields nothing
                yield pd.DataFrame(
                    {id_col: ids, "n_bpe_tokens": counts, "bpe_tokens": toks}
                )

    # derive the id column's DDL type from the plan — a hardcoded `long`
    # breaks string/int ids (the EWMA / similarity._id_type lesson)
    id_type = {f.name: f.dataType.simpleString() for f in df.schema.fields}[id_col]
    return df.select(id_col, text_col).mapInPandas(
        kernel, f"`{id_col}` {id_type}, n_bpe_tokens int, bpe_tokens array<string>"
    )


def ewma(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    alpha: float,
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-key exponentially-weighted moving average — the recurrence
    s_i = α·x_i + (1-α)·s_{i-1} that NO built-in window frame can
    express (every Spark frame aggregates raw values; EWMA needs the
    previous *output*). This is the canonical (b)-tier custom operator
    from the design rules: a keyed ``applyInPandas`` where each key's
    history is processed sequentially but keys are processed in
    parallel — the batch twin of ``applyInPandasWithState``.

    State per task is one key-group at a time (Spark streams co-grouped
    rows); within the group the numpy recurrence is vectorized via
    pandas ``ewm(adjust=False)``. Ordering inside a key is pinned by
    (ts, tiebreak) so the fold is deterministic under any partitioning.
    At 100 TB the shuffle is the unavoidable one — each key's rows must
    meet — and nothing else.
    """
    import pandas as pd

    order = [ts_col] + ([tiebreak] if tiebreak else [])
    out_schema = _ewma_out_schema(df, key_col, ts_col, val_col)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order)
        s = pdf[val_col].ewm(alpha=alpha, adjust=False).mean()
        return pd.DataFrame(
            {
                key_col: pdf[key_col].to_numpy(),
                ts_col: pdf[ts_col].to_numpy(),
                val_col: pdf[val_col].to_numpy(),
                "ewma": s.to_numpy(),
            }
        )

    cols = [key_col, ts_col, val_col] + ([tiebreak] if tiebreak else [])
    return df.select(*cols).groupBy(key_col).applyInPandas(fold, out_schema)


def bucket_expr(hex_digits: int) -> str:
    """SQL expr mapping ``term`` → bucket in [0, 16^hex_digits): leading
    hex digits of md5(term) — engine-portable (same trick as
    ``text.dsir_weights`` / ``text.split_assign``)."""
    return (
        "("
        + " + ".join(
            f"(instr('{_HEX_ALPHABET}', substring(md5(term), {i + 1}, 1)) - 1)"
            f" * {16 ** (hex_digits - 1 - i)}"
            for i in range(hex_digits)
        )
        + ")"
    )


def manifest_blooms(table_dir: str, version: int) -> dict:
    """{path: bloom-entry} of a committed version's manifest."""
    m = snaplog.read_manifest(table_dir, version)
    return {e["path"]: e["bloom"] for e in m.get("files", []) if e.get("bloom")}
