"""Cardinality sketches: KMV (k-minimum-values) distinct counting.

The bounded-memory answer to "how many distinct tokens / urls / users
per group" at 100 TB, where an exact count-distinct shuffles the full
key set. KMV (Bar-Yossef et al. RANDOM '02; Beyer et al. SIGMOD '07's
unbiased estimator) keeps only the k smallest hash values per group:
if the k-th smallest of n uniform hashes lands at u_k, then
n ≈ (k-1)/u_k.

KMV is chosen over HyperLogLog deliberately: with a fixed hash (md5)
the sketch is fully DETERMINISTIC, so the estimate is bit-reproducible
across engines and the operator sits under the same DuckDB value-
equality gate as every exact operator — an approximate operator with
an exact oracle. (HLL register layouts differ per implementation;
Spark's and DuckDB's approx_count_distinct values can never
hash-match.)

Plan shape: distinct (group, term) — one hash-agg over the token
stream — then the k-th smallest hash per group via a bounded window
over the VOCABULARY-sized distinct relation (not the corpus), plus a
per-group exact count for the n < k fallback. At extreme group counts
a bounded-heap UDAF would replace the window; the declarative form
keeps the whole operator inside Catalyst and is exact for the
vocabulary-sized relations this engine's gates run at.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ocr_spark.operators.textops import (
    TOKENS_LC,
    _ensure_parallelism,
    _md5_int,
)

# 2^32 as a double: the 8-hex-digit md5 prefix maps to [0, 1).
_TWO32 = 4294967296.0


def _winnow_windows(df: DataFrame, k: int, w: int) -> tuple[DataFrame, str]:
    """The in-row winnowing state: (doc_id, us) rows, ``us`` the
    positioned 32-bit word ``k``-gram hashes ``struct(pos, u)`` of each
    document with at least one full window, and the SQL array of every
    ``w``-window's rightmost minimum (later elements win on ``<=``)."""
    arr = _ensure_parallelism(df).select(
        "doc_id", F.expr(TOKENS_LC).alias("t")
    ).filter(F.size("t") >= k + w - 1)
    us = (
        f"transform(sequence(0, size(t) - {k}), "
        f"i -> struct(i AS pos, "
        f"CAST(conv(substring(md5(concat_ws(' ', slice(t, i + 1, {k}))), "
        f"1, 8), 16, 10) AS BIGINT) AS u))"
    )
    mins = (
        f"transform(sequence(1, size(us) - {w - 1}), "
        f"s -> aggregate(slice(us, s + 1, {w - 1}), us[s - 1], "
        f"(acc, x) -> IF(x.u <= acc.u, x, acc)))"
    )
    return arr.select("doc_id", F.expr(us).alias("us")), mins


def winnow_fingerprints(
    df: DataFrame, k: int = 4, w: int = 4
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken
    SIGMOD '03 — the MOSS algorithm): from each document's word
    ``k``-gram hash sequence, select the minimum hash of every sliding
    window of ``w`` consecutive k-grams, ties to the RIGHTMOST position.
    The selected set is the document's fingerprint sketch: ~2/(w+1)
    density, with the guarantee that every match of length >= w+k-1
    between two documents shares at least one selected fingerprint —
    the local, position-robust alternative to taking all shingles.

    Returns (doc_id, pos, fp) — fp the 32-bit k-gram hash prefix
    (engine-portable md5 arithmetic), pos the k-gram start. Deterministic
    end-to-end, so the approximate sketch sits under the exact DuckDB
    gate, like :func:`kmv_distinct_tokens`.

    Plan: winnowing is DOC-LOCAL, so the whole selection runs as array
    expressions inside the row — positioned k-gram hashes from one
    ``transform``, each window folded to its rightmost-min with
    ``aggregate`` (ties go right because later elements win on ``<=``),
    ``array_distinct`` dedups in-row, one final explode. MAP-ONLY: zero
    shuffles, zero UDFs. (A first cut fanned every k-gram out to its w
    covering windows and hash-aggregated per (doc, window) — correct,
    but it shuffled w x kgrams rows for a computation the row already
    contains; measured 2.5s -> map-only at sf0.1.)
    """
    us, mins = _winnow_windows(df, k, w)
    return (
        us.select(
            "doc_id", F.explode(F.expr(f"array_distinct({mins})")).alias("m")
        )
        .select(
            "doc_id",
            F.col("m.pos").alias("pos"),
            F.col("m.u").alias("fp"),
        )
    )


def winnow_near_dup_pairs(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 100,
) -> DataFrame:
    """Near-duplicate candidate pairs from shared winnowing
    fingerprints — the sketch's intended use (MOSS's match detection):
    two documents sharing >= ``min_shared`` selected fingerprints are
    candidates, at ~2/(w+1) the posting-list volume of the full-shingle
    inverted index (``ngram_jaccard_pairs``).

    Returns (doc_a, doc_b, n_shared), doc_a < doc_b.

    Same skew discipline as the other inverted indexes: fingerprints
    appearing in more than ``max_df`` documents are boilerplate and are
    pruned BEFORE the self-join, bounding every posting list (the join
    is quadratic per fingerprint otherwise).
    """
    # r6: the per-doc DISTINCT fingerprint set is computed IN-ROW
    # (drop positions, array_distinct on the u values) instead of
    # exploding positioned selections and paying a corpus-wide
    # .distinct() shuffle — same (doc_id, fp) set by construction
    # (winnowing is doc-local), zero wide rows ever shuffled
    us, mins = _winnow_windows(df, k, w)
    fp = us.select(
        "doc_id",
        F.explode(F.expr(f"array_distinct(transform({mins}, m -> m.u))"))
        .alias("fp"),
    )
    dfreq = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("fp_df"))
    pruned = (
        fp.join(dfreq, "fp").filter(F.col("fp_df") <= max_df).drop("fp_df")
    )
    a = pruned.select(F.col("doc_id").alias("doc_a"), "fp")
    b = pruned.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_verified_pairs(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 100,
    shingle_n: int = 3,
    threshold: float = 0.05,
    jaccard_max_df: int = 2000,
) -> DataFrame:
    """Winnow candidates → exact-Jaccard verification: the fast VERIFIED
    dedup path. Winnowing generates candidates at ~2/(w+1) the posting
    volume of a full shingle index (measured 110k-doc soak: recall 1.0
    in 28s vs MinHash+LSH's 0.972 in 295s), then the exact word
    ``shingle_n``-gram Jaccard is computed ONLY for candidate documents
    (``dedup._verify_candidates``, the verify step every near-dup key
    shares) and pairs below ``threshold`` drop.

    Returns (doc_a, doc_b, jaccard).

    ``jaccard_max_df`` defaults to 2000 — deliberately looser than
    ``ngram_jaccard``/``minhash_lsh_pairs``' 1000: the Jaccard here runs
    over the CANDIDATE-doc-restricted shingle relation (small by the
    winnowing premise), so posting lists are already bounded by the
    candidate count and the cap only guards pathological
    all-candidates-share-a-shingle skew. The df-cap is part of the
    operator's Jaccard DEFINITION (pruned shingles count toward neither
    sizes nor intersections) and the DuckDB oracle mirrors it over the
    same restricted relation, so both engines agree at any scale.
    """
    from ocr_spark.operators.dedup import _verify_candidates

    cands = winnow_near_dup_pairs(
        df, k=k, w=w, min_shared=min_shared, max_df=max_df
    ).select("doc_a", "doc_b")
    return _verify_candidates(
        cands, df, shingle_n, threshold, jaccard_max_df
    ).select("doc_a", "doc_b", "jaccard")


def cms_heavy_hitters(
    df: DataFrame, depth: int = 3, width: int = 1024, k: int = 20
) -> DataFrame:
    """Heavy hitters via a count-min sketch (Cormode & Muthukrishnan
    '05): ``depth`` x ``width`` counters, counter(r, b) = total count
    of tokens hashing to bucket b under row-r's hash; estimate(t) =
    min_r counter(r, bucket_r(t)) — always >= the true count, with the
    overestimate bounded by the collision mass. Like
    :func:`kmv_distinct_tokens`, the fixed md5 hash family makes the
    APPROXIMATE sketch fully deterministic, so it sits under the exact
    DuckDB value gate.

    Returns the top ``k`` terms by (estimate DESC, term ASC):
    (term, est, n_exact) — n_exact is the true count (cheap at gate
    scale, and pinning est >= n_exact is the sketch's correctness
    property; at 100 TB you would keep only the d x w counter table).

    Plan shape: ONE corpus-scale pass (token explode -> term-frequency
    hash-agg with map-side partials); everything downstream runs over
    the VOCABULARY-sized tf relation — the sketch build fans tf out
    ``depth``-fold and collapses to d*w rows (the fixed-size mergeable
    summary an executor would emit per partition at scale), and the
    probe joins tf back to those d*w rows (broadcast — the sketch is
    tiny by construction). Top-k is orderBy().limit() = TakeOrdered,
    never a global sort.
    """
    toks = _ensure_parallelism(df).select(
        F.explode(F.expr(TOKENS_LC)).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    # tf feeds BOTH the sketch build and the probe: checkpoint the
    # vocabulary-sized relation so the corpus tokenize pass runs ONCE
    # by construction (without this the plan carries three corpus
    # scans and only AQE exchange-reuse collapses them at runtime)
    tf = tf.localCheckpoint(eager=True)
    rows = F.array([F.lit(r) for r in range(depth)])
    h = tf.select(
        "term", "cnt", F.explode(rows).alias("r")
    ).withColumn(
        "bucket",
        _md5_int(F.concat(F.col("r").cast("string"), F.lit("|"),
                          F.col("term")), 8)
        % F.lit(width),
    )
    sketch = h.groupBy("r", "bucket").agg(F.sum("cnt").alias("counter"))
    est = (
        h.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("term")
        .agg(
            F.min("counter").alias("est"),
            F.min("cnt").alias("n_exact"),
        )
    )
    return est.orderBy(F.col("est").desc(), F.col("term").asc()).limit(k)


def kmv_distinct_tokens(
    df: DataFrame, k: int = 8, group_col: str = "source"
) -> DataFrame:
    """Per-group distinct-token estimate via a k-minimum-values sketch.

    Returns (group, n_exact, est_distinct): ``n_exact`` is the true
    per-group distinct count (cheap at gate scale; at 100 TB you would
    keep only the sketch), ``est_distinct`` the KMV estimate — the
    unbiased (k-1)/u_k when the group has ≥ k distinct values, else the
    exact count (the standard small-set convention: with fewer than k
    values the sketch IS the set).

    u comes from the first 8 hex digits of md5(term) scaled by 2^-32 —
    engine-portable bit-for-bit (mirrored in the DuckDB oracle with
    hex-digit arithmetic). Ties are impossible in practice (distinct
    terms, 32-bit prefixes) but the window still orders (u, term) so
    the k-th row is deterministic even under a collision. u is floored
    at 2^-32 on BOTH engines: a term whose md5 32-bit prefix is
    00000000 (~n/2^32 odds — plausible at 10^9-doc vocabulary scale)
    would otherwise divide by zero, and Infinity-vs-engine-specific
    behavior breaks the exact-gate premise.
    """
    toks = _ensure_parallelism(df).select(
        F.col(group_col).alias("grp"),
        F.explode(F.expr(TOKENS_LC)).alias("term"),
    ).filter(F.col("term") != "")
    d = toks.distinct().withColumn(
        "u",
        _md5_int("term", 8) / F.lit(_TWO32),
    )
    counts = d.groupBy("grp").agg(F.count(F.lit(1)).alias("n_exact"))
    w = Window.partitionBy("grp").orderBy(
        F.col("u").asc(), F.col("term").asc()
    )
    kth = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == k)
        .select("grp", "u")
    )
    return (
        counts.join(kth, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            "n_exact",
            F.when(F.col("n_exact") < k, F.col("n_exact").cast("double"))
            .otherwise(
                F.round(
                    F.lit(float(k - 1))
                    / F.greatest(F.col("u"), F.lit(1.0 / _TWO32)),
                    4,
                )
            )
            .alias("est_distinct"),
        )
    )
