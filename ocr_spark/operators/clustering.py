"""Distributed k-means clustering over an embedding column, and the
cluster-bounded SemDeDup that consumes it.

``kmeans_assign`` is Lloyd's algorithm made engine-reproducible:

- **Deterministic seeding** — the ``k`` lowest-``vec_id`` corpus
  vectors (the same sampled-quantizer convention as ``ivf_topk``), so
  both engines start from identical centroids.
- **Rounded fixed points** — assignment similarity rounds to 4 dp
  (ties break to the smaller centroid id) and every updated centroid
  coordinate rounds to 6 dp before the next pass, so the iteration
  trajectory does not depend on either engine's float-summation order.
  This is what lets an inherently iterative algorithm pass an exact
  DuckDB equality oracle — cf. the ``ivf_topk`` docstring, which
  punted Lloyd refinement for exactly this reason.

Scale shape (per iteration):

- assignment is a PURE MAP: centroids are driver-known literals, so
  each row argmaxes a k-element (cos, -cid) struct array in-row — no
  join, no window, zero shuffle of the corpus. At very large k, swap
  the expression cosine for the ``ivf_topk`` ``mapInPandas`` numpy
  matmul (one kernel per Arrow batch); at the default k the
  whole-stage-codegen expression path wins because it avoids Python
  worker round-trips.
- the update is ``posexplode`` -> ``groupBy(cid, pos)`` -> ``avg``:
  the exploded stream is d x N rows but partial aggregation compresses
  it map-side to k x d per task, so the one shuffle moves O(tasks*k*d)
  rows, not O(N*d).
- centroids are collected to the driver between iterations (k x d
  doubles — bounded and tiny, the same justified-collect class as
  ``ivf_topk``'s quantizer). Collecting also CUTS THE LINEAGE: keeping
  centroids as a DataFrame would nest each iteration's plan inside the
  next and grow the optimizer's work exponentially with ``iters``.

Reference behavior grafted: clustering/bucketing of embedded corpora
for near-dup curation (SemDeDup, Abbas et al. '23 arXiv:2303.09540
§3: k-means the embeddings, then dedup WITHIN clusters — the cluster
structure is what bounds the pairwise stage at corpus scale).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from .similarity import _cos_expr, _norm_expr, _probe_dims, _with_norm


def _assign(
    emb: DataFrame, centroids: list[tuple[int, list[float]]], d: int
) -> DataFrame:
    """One assignment pass: (vec_id, cid, cos) — nearest centroid by
    rounded cosine, ties to the smaller cid.

    r6 shape: full-width rows score through a vectorized mapInPandas
    kernel (``similarity._fold_cos_matrix`` — the same left-to-right
    IEEE fold as the expression, so every unrounded cosine is
    bit-equal — plus ``_round4_argmax``, which only pays exact decimal
    rounding for within-2e-4 ties); rows whose embedding is NULL or
    not ``d``-wide keep the original expression path (their NULL-cos /
    NaN semantics are exactly Spark's) and union in. Still a pure map:
    no join, no aggregation, no exchange (plan-pinned). The
    interpreted k x d lambda cost the fit ~60% of its wall at sf1.0.
    """
    import math

    from .similarity import _fold_cos_matrix, _round4_argmax

    # conform = exactly d FINITE non-null elements, not all zero. The
    # excluded classes take the expression path because their
    # semantics are engine-level and the pandas kernel cannot
    # reproduce them: NULL elements give a NULL cos (pandas NaN
    # arrives as NULL but NaN-data must stay NaN), NaN/Inf elements
    # give a NaN cos that must survive Arrow as NaN, and a zero-norm
    # vector divides by zero — which under this repo's ANSI-on
    # sessions RAISES, exactly as the pre-r6 expression did (r6 review
    # finding). Residual: a vector of subnormals whose squares all
    # underflow to 0 still reaches the fast path and yields NULL cos
    # where ANSI would raise — beyond any real embedding.
    nonfinite = F.expr(
        "exists(embedding, x -> isnan(x) OR abs(x) = float('Infinity'))"
    )
    all_zero = (F.array_max("embedding") == F.lit(0.0)) & (
        F.array_min("embedding") == F.lit(0.0)
    )
    ok = (
        (F.size("embedding") == F.lit(d))
        & (F.size(F.array_compact("embedding")) == F.lit(d))
        & ~nonfinite
        & ~all_zero
    )
    if any(
        not math.isfinite(sum(v * v for v in c)) or sum(v * v for v in c) == 0
        for _, c in centroids
    ):
        # a zero/non-finite-norm centroid poisons every row's division
        # — the expression path owns those semantics wholesale
        return _assign_expr(emb, centroids, d)
    conform = emb.filter(ok).select("vec_id", "embedding")
    rest = emb.filter(F.coalesce(~ok, F.lit(True)))

    import numpy as np
    import pandas as pd

    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    cmat = np.array([c for _, c in centroids], dtype=np.float64)
    cn = np.array(
        [math.sqrt(sum(v * v for v in c)) for _, c in centroids]
    )
    id_t = emb.schema["vec_id"].dataType.simpleString()

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            cos = _fold_cos_matrix(m, cmat, cn)
            win, rounded = _round4_argmax(cos)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cid": cids[win],
                    "cos": rounded,
                }
            )

    fast = conform.mapInPandas(
        score, f"vec_id {id_t}, cid bigint, cos double"
    )
    return fast.unionByName(_assign_expr(rest, centroids, d))


def _assign_expr(
    emb: DataFrame, centroids: list[tuple[int, list[float]]], d: int
) -> DataFrame:
    """Expression-path assignment (the pre-r6 form, kept verbatim as
    the non-conforming-row fallback and the semantics reference).

    The centroids are driver-known literals, so assignment is a PURE
    MAP: each row builds a k-element array of (cos, -cid) structs and
    takes ``array_max`` (struct ordering = cos first, then -cid, i.e.
    ties break to the SMALLER cid). No join, no window, zero shuffle —
    the first cut broadcast-joined a centroid table and ranked with a
    row_number window, which re-shuffled the whole corpus by vec_id
    once per iteration for no reason.

    Centroid norms are computed driver-side with the same left-to-right
    accumulation order as the engine's ``aggregate`` lambda; the 4 dp
    round absorbs any last-ulp divergence (the module's standard float
    policy).

    The whole scoring expression is ONE SQL string parsed by a single
    ``F.expr`` call: composing it from k*d ``F.lit`` Column objects
    costs a py4j round-trip per literal (~1-2s of driver-serial time
    per pass at k*d=512, measured — pure Amdahl tax repeated every
    iteration). ``repr(float)`` round-trips through the SQL parser's
    ``Double.parseDouble`` to the identical IEEE double, so the plan
    and every score are bit-equal to the Column-composed form."""

    def dlit(v: float) -> str:
        return f"CAST('{v!r}' AS DOUBLE)"

    entries = []
    for cid, cent in centroids:
        carr = "array(" + ",".join(dlit(float(v)) for v in cent) + ")"
        cn = math.sqrt(sum(v * v for v in cent))
        dot = (
            f"aggregate(zip_with(embedding, {carr}, "
            "(x, y) -> CAST(x AS DOUBLE) * y), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        entries.append(
            f"struct(round({dot} / (nrm * {dlit(cn)}), 4) AS cos, "
            f"CAST({-cid} AS BIGINT) AS ncid)"
        )
    best = F.expr("array_max(array(" + ",".join(entries) + "))")
    return emb.select(
        "vec_id",
        (-best["ncid"]).alias("cid"),
        best["cos"].alias("cos"),
    )


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_dims: int | None = None,
) -> DataFrame:
    """Cluster the corpus with ``iters`` Lloyd iterations and return the
    final assignment (vec_id, cid, cos).

    ``cid`` is the seed vector's vec_id (stable labels, no renumbering);
    a cluster that loses all members simply disappears from later
    rounds — deterministic in both engines, documented rather than
    re-seeded. ``cos`` is the rounded similarity to the final centroid.

    Each iteration runs one assignment pass and one update pass over
    the corpus; the returned DataFrame is a final assignment against
    the post-update centroids, so ``iters + 1`` corpus passes total.
    Inherent to Lloyd — callers at 100 TB pick small ``iters`` (SemDeDup
    itself reports diminishing returns past a few) or sample the fit
    corpus and assign the remainder once.
    """
    d = _probe_dims(embeddings, "embedding", vec_dims)
    emb = _with_norm(embeddings.select("vec_id", "embedding"), dims=d)
    seeds = sorted(
        embeddings.orderBy("vec_id").limit(k).collect(),
        key=lambda r: r.vec_id,
    )
    cents = [(int(r.vec_id), [float(v) for v in r.embedding]) for r in seeds]
    for _ in range(iters):
        assigned = _assign(emb, cents, d)
        upd = (
            assigned.join(emb, "vec_id")
            .select(
                "cid", F.posexplode("embedding").alias("pos", "v")
            )
            .groupBy("cid", "pos")
            .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("cv"))
            .collect()
        )
        by_cid: dict[int, list[tuple[int, float]]] = {}
        for r in upd:
            by_cid.setdefault(int(r.cid), []).append(
                (int(r.pos), float(r.cv))
            )
        cents = [
            (cid, [v for _, v in sorted(pv)])
            for cid, pv in sorted(by_cid.items())
        ]
    return _assign(emb, cents, d)


def semantic_dedup_kmeans(
    docs: DataFrame,
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.8,
    vec_dims: int | None = None,
) -> DataFrame:
    """SemDeDup as published (Abbas et al. '23 §3): k-means the
    embeddings, compute pairwise cosine WITHIN each cluster only, drop
    every document with a near-duplicate (cos >= ``threshold``) of
    smaller id in its cluster, keep the rest.

    vs :func:`ocr_spark.operators.similarity.semantic_dedup` (the LSH
    sign-bucket variant): clusters adapt to the corpus geometry where
    sign buckets are fixed axis-aligned cuts — correlated real-encoder
    embeddings collapse into few sign buckets (the documented
    degenerate case) but still spread over k learned centroids. The
    pair space is sum over clusters of |c|^2, bounded by balanced
    clusters; the LSH variant has no bound for a collapsed sign bucket
    (only a direct ``cosine_near_dup_pairs`` call can cap one, with
    ``max_bucket``).

    Keep rule is greedy-by-id within cluster (the paper keeps one
    random member per duplicate group; min-id is the deterministic
    equivalent, matching the LSH variant so the two are comparable).
    """
    d = _probe_dims(embeddings, "embedding", vec_dims)
    assigned = kmeans_assign(
        embeddings, k=k, iters=iters, vec_dims=d
    ).select("vec_id", "cid")
    losers = _cluster_losers(embeddings, assigned, threshold, d)
    return docs.join(losers, "doc_id", "left_anti")


def _cluster_losers(
    embeddings: DataFrame,
    assigned: DataFrame,
    threshold: float,
    d: int,
) -> DataFrame:
    """Within-cluster near-duplicate LOSERS: for every pair in the same
    cluster with rounded cosine >= ``threshold``, the larger vec_id as
    ``doc_id``.
    The cluster join bounds the pair space to sum over clusters of
    |c|^2 (the SemDeDup scale argument).

    r6 shape: the pair stage is numpy-blocked candidate pruning per
    cluster (``similarity._near_pair_candidates`` — a float64 BLAS
    matmul per group block with a margin-widened keep cut) followed by
    the module's EXACT ``_dot_expr``/round-4 re-score on candidates
    only, so the loser set is bit-identical to the old cluster
    self-join while the interpreted d-element lambda runs O(near-dups)
    times instead of sum-over-clusters |c|^2 times (measured 62s -> ~2s
    at 20k vectors / k=8 / d=64)."""
    from .similarity import _near_pair_candidates, _near_pairs

    e = embeddings.select("vec_id", "embedding").join(
        assigned.select("vec_id", "cid"), "vec_id"
    )
    cand = _near_pair_candidates(e, "cid", threshold)
    emb_n = _with_norm(embeddings.select("vec_id", "embedding"), dims=d)
    return (
        _near_pairs(cand, emb_n, d, threshold)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )


def d4_select(
    docs: DataFrame,
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.8,
    prune_frac: float = 0.2,
    vec_dims: int | None = None,
) -> DataFrame:
    """D4 (Tirumala et al. '23, arXiv:2308.12284): SemDeDup then SSL
    prototype pruning — after dropping within-cluster near-duplicates,
    additionally drop the ``prune_frac`` most PROTOTYPICAL survivors of
    each cluster (highest cosine to their final centroid: the points a
    web crawl over-represents), keeping the diverse tail.

    Deviations, both deterministic and documented: the paper re-fits
    k-means on the deduplicated subset before the prototype stage — we
    reuse the single full-corpus clustering for both stages (one fit,
    two corpus passes saved; the centroids barely move when dups are a
    small fraction); and "keep one random member" becomes keep-min-id,
    matching the module's SemDeDup convention.

    Per-cluster drop count is ``floor(prune_frac * |survivors in
    cluster|)`` (floor: a tiny cluster loses nothing rather than its
    only member); ranks break ties on the rounded cosine by smaller
    vec_id first (= dropped first). The rank is a window over ``cid``:
    with corpus-scale k (the paper uses 11k clusters; k ~ sqrt(N) is
    the usual choice) the per-cluster sorts distribute across groups —
    the degenerate case is SMALL k over a huge corpus, where one
    cluster's sort lands on one task; pick k accordingly.

    Docs without an embedding row are kept (no evidence to drop),
    mirroring :func:`semantic_dedup_kmeans`.
    """
    d = _probe_dims(embeddings, "embedding", vec_dims)
    # TWO consumers (the loser pair stage and the survivor rank) would
    # each re-run the N x k x d assignment map — checkpoint the tiny
    # (vec_id, cid, cos) relation before fanning out (edit_dedup lesson)
    assigned = kmeans_assign(
        embeddings, k=k, iters=iters, vec_dims=d
    ).localCheckpoint()
    losers = _cluster_losers(embeddings, assigned, threshold, d)
    surv = assigned.join(
        losers.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left_anti"
    )
    w = Window.partitionBy("cid")
    rk = F.row_number().over(
        w.orderBy(F.col("cos").desc(), F.col("vec_id"))
    )
    n = F.count(F.lit(1)).over(w)
    protos = (
        surv.withColumn("rk", rk)
        .withColumn("cut", F.floor(F.lit(float(prune_frac)) * n))
        .filter(F.col("rk") <= F.col("cut"))
        .select(F.col("vec_id").alias("doc_id"))
    )
    dropped = losers.unionByName(protos)
    return docs.join(dropped, "doc_id", "left_anti")


def embedding_outliers(
    embeddings: DataFrame,
    frac: float = 0.2,
    vec_dims: int | None = None,
) -> DataFrame:
    """Embedding-space outlier QA: flag the ``frac`` of each label's
    vectors least similar to their label centroid (mislabel detection /
    encoder-drift triage; the inverse of D4's distance-to-centroid
    prototypicality signal, Tirumala '23 §3).

    Returns (vec_id, label, centroid_cos, is_outlier) — ALL rows kept,
    ``is_outlier`` true for the per-label bottom ceil(frac * n) by
    (cos asc, vec_id asc). centroid_cos is the module's round-4 cosine
    against the round-6 mean centroid (the rounded-fixed-point contract
    that makes centroid arithmetic engine-portable).

    Scale shape — the quality_select count-table rank, not a corpus
    window: per-label centroids are one posexplode + map-side-partial
    avg (the kmeans update shape) kept DISTRIBUTED and broadcast-joined
    back (no driver collect — nothing iterates here); the bottom-frac
    cut ranks a per-(label, cos4) LEVEL TABLE (<= 2*10^4 levels per
    label by the round-4 grid), prunes levels past the cut, and
    resolves exact ranks with row_number only inside fine
    (label, level) partitions. The corpus never sorts; parallelism is
    never capped at the label count.
    """
    d = _probe_dims(embeddings, "embedding", vec_dims)
    emb = embeddings.select(
        "vec_id", "label", "embedding"
    ).withColumn("nrm", _norm_expr("embedding", d))
    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("cv"))
        .groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pv")
        )
        .select(
            "label",
            F.expr("transform(pv, x -> x.cv)").alias("cent"),
        )
        .withColumn("cn", _norm_expr("cent", d))
    )
    scored = (
        emb.join(F.broadcast(cent), "label")
        .select(
            "vec_id",
            "label",
            _cos_expr("embedding", "cent", "nrm", "cn", d).alias("cos4"),
        )
    )
    # NULL cos4 (NULL/zero-norm embedding) stays OUT of the level
    # table — a NULL level sorts NULLS-FIRST in Spark's ascending
    # window but NULLS-LAST under DuckDB's default, shifting cum_below
    # on one engine only; such rows still reach the output (flag
    # false) through the final left join
    lv = scored.filter(F.col("cos4").isNotNull()).groupBy(
        "label", "cos4"
    ).agg(F.count(F.lit(1)).alias("lv_n"))
    from ocr_spark.operators.textops import _level_cum

    cand = (
        _level_cum(lv, ["label"], "cos4")
        .select(
            "label",
            "cos4",
            "cum_below",
            F.ceil(F.lit(float(frac)) * F.col("n_part").cast("double"))
            .cast("long")
            .alias("cut"),
        )
        .filter(F.col("cum_below") < F.col("cut"))
    )
    w_fine = Window.partitionBy("label", "cos4").orderBy(
        F.col("vec_id").asc()
    )
    fine = (
        scored.join(cand, ["label", "cos4"])
        .select(
            "vec_id",
            (
                (F.col("cum_below") + F.row_number().over(w_fine))
                <= F.col("cut")
            ).alias("flag"),
        )
    )
    return scored.join(fine, "vec_id", "left").select(
        "vec_id",
        "label",
        F.col("cos4").alias("centroid_cos"),
        F.coalesce(F.col("flag"), F.lit(False)).alias("is_outlier"),
    )


def cluster_stats(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_dims: int | None = None,
) -> DataFrame:
    """Per-cluster quality sheet over the shared k-means fit — the
    health check run before trusting a clustering for SemDeDup/D4
    (tiny or low-cohesion clusters mean k or the iteration budget is
    wrong): member count, cohesion (min/avg/max cosine to the final
    centroid), and the lowest member vec_id as a stable exemplar.

    Builds on :func:`kmeans_assign` (same fixed-point contract: cos is
    the round-4 similarity), so the oracle reuses the unrolled Lloyd
    CTEs. One conversation-sized hash-agg over the assignment; the avg
    is a float32 cast of SUM(round-4 doubles)/COUNT — group sums of 4dp
    values sit far from float32 rounding boundaries, the corpus_stats
    agg-order analysis.
    """
    asg = kmeans_assign(embeddings, k=k, iters=iters, vec_dims=vec_dims)
    return asg.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("vec_id").alias("exemplar"),
        F.min("cos").alias("min_cos"),
        F.max("cos").alias("max_cos"),
        (
            F.sum(F.col("cos").cast("double"))
            / F.count(F.lit(1)).cast("double")
        )
        .cast("float")
        .alias("avg_cos"),
    )
