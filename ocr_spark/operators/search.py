"""Lexical retrieval operators: BM25 search and TF-IDF keyword extraction.

The retrieval counterpart to the embedding ANN family in
``operators/similarity.py``: classic sparse (term-based) ranking over the
``documents`` table. Training-data pipelines use these for corpus
inspection ("which documents match this probe query"), targeted
decontamination ("find docs lexically close to an eval question"), and
keyword-profile features.

Plan shapes (100 TB posture):

- Tokenization is one ``explode`` of a built-in ``split`` — JVM-side,
  linear, no UDFs.
- BM25 filters the exploded stream to the query terms BEFORE any
  aggregation, so the per-(doc, term) frequency agg touches only the
  posting lists of the query terms (inverted-index discipline), never
  the full corpus vocabulary. Document-length stats are one corpus agg
  computed once per corpus in practice (cheap here; cacheable as a
  stats table at scale).
- The per-term document frequencies and the single-row corpus stats are
  explicitly ``broadcast`` — both are query-sized / O(1), never
  shuffle-joined.
- TF-IDF joins term frequencies to the corpus document-frequency table
  on ``term`` — a hash join keyed on the vocabulary, the same shape as
  the n-gram inverted index in ``operators/dedup.py``; the per-document
  top-k is a bounded window (k rows per doc survive).
- Every float is rounded 4 dp on BOTH engines BEFORE it participates in
  ordering, so rank boundaries cannot flip on sub-ulp ln()/summation
  differences (see driver_contract float policy).

BM25 constants follow Robertson & Spärck Jones / the Okapi BM25 form
with k1=1.2, b=0.75 (Robertson et al., TREC-3 '94); idf is the
non-negative variant ln(1 + (N - df + 0.5) / (df + 0.5)) used by Lucene.

Reference parity note: the reference (DAU-OCR/OCR) has no retrieval
stage — this module is part of the beyond-reference training-data
surface (SURVEY.md §2.3).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ocr_spark.operators.textops import (
    STOPWORD_LIST,
    TOKENS_LC,
    _ensure_parallelism,
)


def _tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, term) stream — empty strings dropped (empty docs vanish,
    which also keeps them out of the length statistics). The explode is
    the map-side hot loop, so the single-file-scan parallelism guard
    applies (see textops._ensure_parallelism)."""
    return _ensure_parallelism(docs).select(
        "doc_id", F.explode(F.expr(TOKENS_LC)).alias("term")
    ).filter(F.col("term") != "")


def _bm25_weights(docs: DataFrame, terms: list[str]) -> DataFrame:
    """Per-(doc, term) BM25 weight ``w`` of each query term a document
    holds: tf joined to df, the doc length and the corpus stats, with
    Okapi's k1 = 1.2 and b = 0.75 (the oracle's literals)."""
    k1, b = 1.2, 0.75
    toks = _tokens(docs)
    # Doc lengths WITHOUT exploding: split-on-\s+ of trimmed non-empty
    # text yields no empty tokens, so size(array) == the exploded count
    # the oracle's per-doc count(*) computes — one array-size projection
    # instead of a second 40M-row explode+agg pass (measured 500k-doc
    # soak: the dl aggregate dominated bm25 wall time before this).
    dl = docs.filter(F.trim("text") != "").select(
        "doc_id", F.size(F.expr(TOKENS_LC)).alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    w = (
        idf
        * (F.col("tf") * (F.lit(k1) + F.lit(1.0)))
        / (
            F.col("tf")
            + F.lit(k1)
            * ((F.lit(1.0) - F.lit(b)) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("w", w)
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
) -> DataFrame:
    """Top-k documents by Okapi BM25 score for a bag of query terms.

    Returns (doc_id, bm25, n_terms) — n_terms is how many distinct query
    terms the document matched. Deterministic total order: rounded score
    desc, then doc_id asc.

    The arithmetic is written with the exact literal/operation structure
    the DuckDB oracle uses (k1 + 1 computed as ``k1 + 1.0``, 1 - b as
    ``1.0 - b``) so both engines fold the same IEEE doubles.
    """
    scored = _bm25_weights(docs, list(query_terms))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum("w"), 4).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def bm25_topk_multi(
    docs: DataFrame,
    probes: dict,
    k: int = 10,
) -> DataFrame:
    """Multi-probe BM25: per-probe top-k for a dict of
    {q_key: [terms...]} sharing ONE corpus tokenize pass, ONE
    doc-length/stats aggregate, and ONE per-(doc, term) tf relation
    across all probes — the multi-query form that makes query-expansion
    fusion (rrf_fuse over several probes) cost one corpus pass instead
    of one per probe.

    Returns (q_key, doc_id, bm25, n_terms, rank), rank 1..k per probe
    by (round-4 bm25 desc, doc_id asc) — per-probe scores and ranks are
    IDENTICAL to independent bm25_topk calls (df/dl/stats are
    probe-independent; the probe mapping only regroups the same
    per-term weights), so the two forms are interchangeable under the
    oracle.

    Plan: the (q_key, term) mapping is a broadcast literal; the
    per-probe top-k is a rank-filtered (q_key)-partitioned window,
    which Spark compiles to WindowGroupLimit Partial+Final (map-side
    k-row heads per partition — the weighted_sample shape), never a
    monolithic per-probe sort.
    """
    mapping_rows = [
        (q, t) for q, ts in sorted(probes.items()) for t in sorted(set(ts))
    ]
    if not mapping_rows:
        raise ValueError("bm25_topk_multi needs at least one probe term")
    all_terms = sorted({t for _, t in mapping_rows})
    mapping = docs.sparkSession.createDataFrame(
        mapping_rows, "q_key string, term string"
    )
    scored = _bm25_weights(docs, all_terms).join(
        F.broadcast(mapping), "term"
    )
    win = Window.partitionBy("q_key").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        scored.groupBy("q_key", "doc_id")
        .agg(
            F.round(F.sum("w"), 4).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
    )


def tfidf_keywords(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k keywords by TF-IDF (stopwords excluded).

    idf = ln(N / df) with N = total documents (including empty ones —
    both engines count the same table). Returns
    (doc_id, term, tfidf, rank); ties broken by term asc on the ROUNDED
    score so rank boundaries agree across engines.

    Scale: the tf→df join is keyed on the vocabulary (hash join, the
    inverted-index shape); the window keeps ≤ k rows per document, so
    output is bounded by k × docs.
    """
    toks = _tokens(docs).filter(~F.col("term").isin(STOPWORD_LIST))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", "rank")
    )


def rrf_fuse(
    rankings: Sequence[DataFrame], k0: int = 60, k: int = 10
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack & Clarke SIGIR '09) — the
    standard hybrid-retrieval combiner (sparse BM25 + dense ANN lists,
    or multi-probe query expansion): score(d) = sum over lists of
    1 / (k0 + rank_in_list(d)).

    Each input ranking carries (id, rank) in its first two columns with
    rank already DETERMINISTIC by the producer's total order (bm25_topk
    orders by round-4 score then doc_id; cosine_topk ships an explicit
    rank column — rank integers, not raw float scores, cross the fusion
    boundary, so no score-portability risk enters here). Returns the
    top ``k`` of (doc_id, rrf float32, n_lists), ordered (rrf desc,
    doc_id asc).

    Plan shape: union of k-row ranking heads -> ONE tiny hash-agg ->
    TakeOrdered. The inputs are already top-k outputs, so everything
    here is list-sized; the corpus-scale work happened in the
    producers. Summation note: 1/(k0+rank) doubles sum per doc — for
    >= 3 lists the add order is engine/partition-dependent at ~1e-17,
    invisible on the float32 output grid.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            F.col(r.columns[0]).alias("doc_id"),
            F.col(r.columns[1]).cast("long").alias("rank"),
        )
        for r in rankings
    ]
    uni = parts[0]
    for p in parts[1:]:
        uni = uni.unionByName(p)
    scored = uni.groupBy("doc_id").agg(
        F.sum(
            F.lit(1.0) / (F.lit(float(k0)) + F.col("rank").cast("double"))
        )
        .cast("float")
        .alias("rrf"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    return scored.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(k)
