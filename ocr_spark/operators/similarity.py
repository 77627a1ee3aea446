"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force cosine top-k — the exactness baseline.
  Dot products run JVM-side via ``zip_with``/``aggregate`` higher-order
  functions in deterministic index order (no Python, no shuffle beyond
  the candidate join).
- ``lsh_cosine_topk``: the scale path — random-hyperplane-free LSH using
  md5 bit sampling of the dominant-dimension sign pattern; buckets cut
  the candidate set before exact re-scoring. At 100 TB the bucket join
  replaces the O(N·Q) cross join with O(candidates).

Scores are rounded (4 dp) so results are stable across engines and
float-summation orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * y), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_NORM = (
    "sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * x), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
)


def _probe_dims(
    df: DataFrame, col: str, known: int | None = None
) -> int | None:
    """The (fixed) embedding width: ``known`` when the caller has it,
    else a one-row LocalLimit probe."""
    if known is not None:
        return known
    row = df.select(F.size(F.col(col)).alias("d")).first()
    return None if row is None else row["d"]


# Unrolling the dot/norm sums into element_at arithmetic only wins for
# NARROW vectors: measured at sf0.1 (2000 x 64d, warm min-of-3) the
# 64-term unrolled form is ~2.5x SLOWER than the zip_with lambda
# (1.48s vs 0.60s for cosine_topk) — a 128-node expression tree blows
# whole-stage-codegen method limits and falls back to interpreted
# evaluation, which loses to the optimized higher-order loop. Keep the
# unroll for small widths only (where it clearly wins, cf. the 4-int
# simhash band Hamming), lambda otherwise.
_UNROLL_MAX_DIMS = 16


def _dot_expr(a: str, b: str, dims: int | None):
    """Dot product of two vector columns; unrolled for narrow vectors
    (see _UNROLL_MAX_DIMS note), zip_with lambda otherwise. Addition
    order is left-to-right in both forms, so scores are bit-identical
    either way."""
    if dims is None or dims > _UNROLL_MAX_DIMS:
        return F.expr(_DOT.format(a=a, b=b))
    terms = " + ".join(
        f"(CAST(element_at({a}, {i + 1}) AS DOUBLE) * "
        f"element_at({b}, {i + 1}))"
        for i in range(dims)
    )
    return F.expr(f"CAST(0.0 AS DOUBLE) + {terms}")


def _norm_expr(a: str, dims: int | None):
    if dims is None or dims > _UNROLL_MAX_DIMS:
        return F.expr(_NORM.format(a=a))
    terms = " + ".join(
        f"(CAST(element_at({a}, {i + 1}) AS DOUBLE) * "
        f"CAST(element_at({a}, {i + 1}) AS DOUBLE))"
        for i in range(dims)
    )
    return F.expr(f"sqrt(CAST(0.0 AS DOUBLE) + {terms})")


def _with_norm(
    df: DataFrame, dims: int | None = None
) -> DataFrame:
    return df.withColumn("nrm", _norm_expr("embedding", dims))


def _cos_expr(a: str, b: str, na: str, nb: str, dims: int | None):
    """round-4 cosine of vector columns ``a``/``b`` with norms ``na``/``nb``."""
    return F.round(_dot_expr(a, b, dims) / (F.col(na) * F.col(nb)), 4)


def _topk(
    df: DataFrame, key: str, score: str, tie: str, k: int, rank: str = "rank"
) -> DataFrame:
    """Per-``key`` top-k: ``rank`` = row_number by (``score`` desc,
    ``tie`` asc), rows ranked past ``k`` dropped."""
    w = Window.partitionBy(key).orderBy(F.col(score).desc(), F.col(tie).asc())
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _cos_topk(cand: DataFrame, d: int | None, k: int) -> DataFrame:
    """Exact re-score of (q_id, q_emb, n1, vec_id, emb, n2) candidates
    and the per-query top-k: (q_id, vec_id, cos, rank), ties to the
    lower vec_id."""
    scored = cand.withColumn("cos", _cos_expr("q_emb", "emb", "n1", "n2", d))
    return _topk(scored, "q_id", "cos", "vec_id", k).select(
        "q_id", "vec_id", "cos", "rank"
    )


def _near_pairs(
    cand: DataFrame, emb_n: DataFrame, d: int | None, threshold: float
) -> DataFrame:
    """Exact re-score of (doc_a, doc_b) candidate pairs against the
    (vec_id, embedding, nrm) relation ``emb_n``: the pairs whose round-4
    cosine ``cos`` reaches ``threshold``."""
    a = emb_n.select(
        F.col("vec_id").alias("doc_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = emb_n.select(
        F.col("vec_id").alias("doc_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("cos", _cos_expr("ea", "eb", "na", "nb", d))
        .filter(F.col("cos") >= threshold)
    )


def _near_pair_candidates(
    e: DataFrame,
    key_col: str,
    threshold: float,
) -> DataFrame:
    """SUPERSET of within-group near-dup candidate pairs by blocked
    numpy cosine — the r6 fix for the quadratic pair stage.

    ``e`` carries (vec_id, embedding, ``key_col``); every pair of
    rows sharing ``key_col`` whose EXACT rounded cosine could pass
    ``threshold`` is returned as (doc_a, doc_b), doc_a < doc_b.
    Callers MUST re-score the candidates with the module's exact
    ``_dot_expr`` expression and re-apply the threshold — this stage
    only prunes, it never decides (the winnow_verified discipline).

    Why: the previous shape — bucket/cluster self-join + per-pair
    interpreted ``zip_with``/``aggregate`` lambda — evaluates an
    interpreted d-element fold for EVERY same-group pair:
    sum-over-groups |g|^2 pairs, ~60s for 20k vectors in 8 clusters
    (measured, sf1.0). A float64 BLAS matmul per group block does the
    same arithmetic orders of magnitude faster; the candidate set it
    emits is tiny by the near-dup premise, so the exact re-score
    touches O(near-dups), not O(pairs).

    Exactness: numpy and the JVM fold differ only in float64 summation
    order — bounded by ~d*eps relative (~1e-13 at d=64), 9 orders of
    magnitude inside the 2e-4 margin.  The keep mask is ``~(cos < cut)`` so
    NaN cosines (zero-norm vectors) stay candidates — a NaN-data pair
    passes the exact filter (Spark orders NaN greatest), and a
    zero-NORM pair makes the exact re-score divide by zero, which
    under this repo's ANSI-on sessions RAISES exactly as the pre-r6
    pair join did (loud either way; the pruner must not silently drop
    it). NULL / wrong-width embeddings are excluded here AND can never
    pass the exact filter (their cos is NULL), so the superset
    property holds for them too.

    Memory: per task one (512 x |g|) float64 scores matrix (~100 MB
    at |g| = 25k) — bounded regardless of group size. Group
    ROWS must fit one pandas frame (the applyInPandas contract): true
    under the k ~ sqrt(N) sizing of the k-means caller, but NOT
    guaranteed for sign buckets — correlated post-ReLU embeddings can
    collapse into one bucket holding the corpus (the degenerate case
    ``cosine_near_dup_pairs`` documents; the pre-r6 self-join was
    equally hopeless there at O(N^2) pairs). Until oversized groups are
    tiled into sub-blocks, the only bound in that regime is
    ``cosine_near_dup_pairs``' ``max_bucket`` recall lever, which a
    caller must pass directly (``semantic_dedup`` does not).
    """
    from collections.abc import Iterator  # noqa: F401  (doc parity)

    import numpy as np
    import pandas as pd

    id_t = e.schema["vec_id"].dataType.simpleString()
    out_schema = f"doc_a {id_t}, doc_b {id_t}"
    cut = float(threshold) - 2e-4

    def find(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"doc_a": ids[:0], "doc_b": ids[:0]})
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        m = np.array(
            pdf["embedding"].to_numpy()[order].tolist(), dtype=np.float64
        )
        nrm = np.sqrt((m * m).sum(axis=1))
        outs = []
        n = len(ids)
        for s in range(0, n, 512):
            blk = (m[s : s + 512] @ m.T) / np.outer(
                nrm[s : s + 512], nrm
            )
            ii, jj = np.nonzero(~(blk < cut))
            gi = ii + s
            sel = ids[gi] < ids[jj]
            if sel.any():
                outs.append(
                    pd.DataFrame(
                        {"doc_a": ids[gi[sel]], "doc_b": ids[jj[sel]]}
                    )
                )
        if not outs:
            return pd.DataFrame({"doc_a": ids[:0], "doc_b": ids[:0]})
        return pd.concat(outs)

    # group by (key, width): a cross-width pair's exact cos is NULL
    # (zip_with pads with null) so it never passes the threshold — and
    # uniform width keeps np.array rectangular
    sized = e.filter(F.col("embedding").isNotNull()).withColumn(
        "_w", F.size("embedding")
    )
    return sized.groupBy(key_col, "_w").applyInPandas(find, out_schema)


def _spark_round4(x: float) -> float:
    """Scalar round(x, 4) matching Spark's Round expression: BigDecimal
    of the shortest-repr double, HALF_UP (the CLAUDE.md rounding rule —
    ``Decimal(repr(x))`` reproduces it). NaN/inf pass through (Spark's
    Round returns non-finite inputs unchanged); -0.0 normalizes to 0.0
    (BigDecimal has no negative zero)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if math.isnan(x) or math.isinf(x):
        return x
    return float(
        Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
    ) + 0.0


def _fold_cos_matrix(m, cmat, cn):
    """(rows x centroids) cosine matrix BIT-EQUAL to the module's
    ``aggregate``/``zip_with`` expression: products accumulate
    left-to-right per coordinate (one fused multiply+add per t, the
    same IEEE op order as the fold), norms fold the same way, and the
    division is dot / (nrm * cn) exactly as the expression writes it.
    ``cn`` must be the caller's driver-side per-centroid norms (python
    ``math.sqrt(sum(...))`` — the same fold the expression embeds as a
    literal)."""
    import numpy as np

    acc = np.zeros((m.shape[0], cmat.shape[0]))
    nacc = np.zeros(m.shape[0])
    for t in range(m.shape[1]):
        xt = m[:, t]
        acc += xt[:, None] * cmat[:, t][None, :]
        nacc += xt * xt
    with np.errstate(all="ignore"):
        return acc / (np.sqrt(nacc)[:, None] * cn[None, :])


def _round4_argmax(cos, want_rounded: bool = True):
    """Per-row argmax of round-4 cosine with ties to the SMALLER column
    index — bit-equal to Spark's ``array_max`` over (round(cos, 4),
    -cid) structs, without paying decimal rounding per cell.

    Fast path: when only one column lies within 2e-4 of the
    row's unrounded max, rounding cannot change the winner (two values
    2e-4 apart round at least one 1e-4 grid step apart). Slow path
    (ties): exact ``_spark_round4`` on the few candidates, max rounded,
    first (= smallest index) wins. NaN columns (zero norms) follow
    Spark's NaN-greatest double ordering: any-NaN row picks the
    smallest NaN column. Returns (winner index array, rounded winner
    value array)."""
    import numpy as np

    n = cos.shape[0]
    win = np.zeros(n, dtype=np.int64)
    out = np.empty(n, dtype=np.float64) if want_rounded else None
    nanmask = np.isnan(cos)
    has_nan = nanmask.any(axis=1)
    if has_nan.any():
        win[has_nan] = nanmask[has_nan].argmax(axis=1)
        if want_rounded:
            out[has_nan] = np.nan
    ok = ~has_nan
    if ok.any():
        c = cos[ok]
        mx = c.max(axis=1)
        cand = c >= (mx[:, None] - 2e-4)
        w = c.argmax(axis=1)
        slow = cand.sum(axis=1) > 1
        for i in np.nonzero(slow)[0]:
            js = np.nonzero(cand[i])[0]
            rs = [_spark_round4(float(c[i, j])) for j in js]
            best = max(rs)
            w[i] = js[rs.index(best)]
        win[ok] = w
        if want_rounded:
            out[ok] = [
                _spark_round4(float(c[i, w[i]])) for i in range(len(w))
            ]
    return win, out


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    max_queries: int = 10_000,
) -> DataFrame:
    """Exact cosine top-k neighbours for each query vector.

    ``queries`` must carry (q_id, q_emb). Returns
    (q_id, vec_id, cos, rank) with rank 1..k, self-matches excluded.
    Tie-break: higher cos first, then lower vec_id (deterministic).

    This is the exactness BASELINE: an O(N*Q) scan by construction, so
    the query side must stay small. It is broadcast explicitly (one
    corpus pass, no shuffle of the big side) and capped at
    ``max_queries`` — beyond that, use ``lsh_cosine_topk``, the scale
    path.
    """
    n_q = queries.limit(max_queries + 1).count()  # bounded probe
    if n_q > max_queries:
        raise ValueError(
            f"cosine_topk is the brute-force baseline: got > {max_queries}"
            " query vectors; use lsh_cosine_topk for large query sets"
        )
    d = _probe_dims(embeddings, "embedding")
    e = _with_norm(embeddings, dims=d).select(
        "vec_id", F.col("embedding").alias("emb"), F.col("nrm").alias("n2")
    )
    q = _with_norm(
        queries.select("q_id", F.col("q_emb").alias("embedding")), dims=d
    ).select("q_id", F.col("embedding").alias("q_emb"), F.col("nrm").alias("n1"))
    cand = F.broadcast(q).crossJoin(e).filter(
        F.col("q_id") != F.col("vec_id")
    )
    return _cos_topk(cand, d, k)


def sign_bucket(
    df: DataFrame, dims: int = 8
) -> DataFrame:
    """LSH bucket = sign pattern of the first ``dims`` coordinates.

    A simple deterministic binary quantization: nearby vectors (cosine)
    agree on most coordinate signs, so sharing the exact ``dims``-bit
    pattern is a candidate filter.
    """
    bucket = sum(
        F.when(
            F.element_at(F.col("embedding"), i + 1) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        for i in range(dims)
    )
    return df.withColumn("bucket", bucket.cast("int"))


def sign_buckets_multi(
    df: DataFrame,
    dims: int = 8,
    tables: int = 1,
    width: int | None = None,
) -> DataFrame:
    """OR-amplified LSH: one bucket per hash table, each table reading a
    disjoint ``dims``-wide band of coordinates. Emits ``tables`` rows per
    vector keyed (table, bucket) — candidates match in ANY table, so
    recall is 1 - prod(miss_t) instead of a single table's hit rate.

    Fails fast if the vectors are shorter than ``tables * dims``:
    ``element_at`` past the end returns null, F.when(null >= 0) falls to
    otherwise(0), and every vector would silently share bucket 0 in the
    out-of-range tables — degenerating the candidate join toward a full
    cross join, the opposite of LSH pruning.

    Pass ``width`` when the vector width is already known to skip the
    probe job — worthwhile when ``df`` sits behind expensive upstream
    stages (e.g. a mapInPandas feature extractor), where even a
    LocalLimit-1 probe pays Python-worker spin-up.
    """
    if width is None:
        # one-row probe (LocalLimit-1 scan, not a corpus pass):
        # embeddings are fixed-width, so one row catches the error
        probe = df.select(F.size(F.col("embedding")).alias("d")).first()
        width = None if probe is None else probe["d"]
    if width is not None and width < tables * dims:
        raise ValueError(
            f"sign_buckets_multi needs {tables * dims} coordinates "
            f"(tables={tables} x dims={dims}) but the vectors have "
            f"{width}; lower tables/dims or pad the embeddings"
        )
    entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                sum(
                    F.when(
                        F.element_at(F.col("embedding"), t * dims + i + 1)
                        >= 0,
                        F.lit(1 << i),
                    ).otherwise(F.lit(0))
                    for i in range(dims)
                ).cast("int").alias("bucket"),
            )
            for t in range(tables)
        ]
    )
    return (
        df.withColumn("_tb", F.explode(entries))
        .withColumn("table", F.col("_tb.table"))
        .withColumn("bucket", F.col("_tb.bucket"))
        .drop("_tb")
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.8,
    dims: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup-by-embedding
    path): LSH sign-bucket join prunes the O(N^2) pair space to
    same-bucket candidates, then exact cosine filters at ``threshold``.
    Returns (doc_a, doc_b, cos) with doc_a < doc_b.

    Skew note (mirrors ``simhash_hamming_pairs``): candidate volume is
    quadratic IN EACH BUCKET. Random vectors spread evenly over the
    2^dims sign patterns, but real encoder embeddings have correlated
    coordinate signs — in the degenerate limit (all coordinates
    positive, common for post-ReLU features) every vector shares ONE
    bucket and the join is a full cross join. Two levers at scale:
    (a) raise ``dims`` so the sign pattern is longer (2^dims buckets;
    any coordinate up to the vector width can contribute), and (b) set
    ``max_bucket`` to drop buckets holding more than that many vectors —
    EXPLICITLY trading recall (pairs inside a dropped bucket are lost)
    for a hard O(max_bucket) per-bucket bound. Leave None for the exact
    oracle-checked semantics. The lever stays until oversized buckets
    are tiled into sub-blocks: it is the only memory bound on a
    collapsed sign bucket, whose rows ``_near_pair_candidates`` loads
    as one pandas frame."""
    d = _probe_dims(embeddings, "embedding")
    e = sign_bucket(_with_norm(embeddings, dims=d), dims=dims).select(
        "vec_id", "embedding", "nrm", "bucket"
    )
    if max_bucket is not None:
        sizes = e.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bn"))
        e = (
            e.join(sizes, "bucket")
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    # r6: numpy-blocked candidate pruning per bucket (see
    # _near_pair_candidates) replaces the bucket self-join whose
    # interpreted per-pair lambda went quadratic-in-bucket; candidates
    # are re-scored with the IDENTICAL exact expression below, so the
    # emitted (doc_a, doc_b, cos) rows are bit-equal to the old plan's.
    cand = _near_pair_candidates(
        e.select("vec_id", "embedding", "bucket"), "bucket", threshold
    )
    return _near_pairs(cand, e, d, threshold).select("doc_a", "doc_b", "cos")


def semantic_dedup(
    docs: DataFrame,
    embeddings: DataFrame,
    threshold: float = 0.8,
    dims: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. '23,
    arXiv:2303.09540): drop every document whose embedding has a
    near-duplicate (cosine >= ``threshold``) with a SMALLER id, keep the
    rest. The end-to-end "dedup by meaning" chain: embeddings →
    LSH-pruned near-dup pairs → survivor anti-join back onto the corpus.

    Keep rule is greedy-by-id, not transitive closure: in a chain
    a~b, b~c (a<b<c, a!~c) both b and c drop because each has a
    smaller-id near-dup. That is the standard cheap rule (one pass, no
    iteration); for exact one-per-connected-component semantics feed the
    pair list through ``operators.dedup.near_dup_groups`` instead.

    Plan shape: the pair list is small by the near-dup premise (see
    ``cosine_near_dup_pairs``' skew note for the collapsed-bucket
    exception); ``distinct(doc_b)`` is a hash-agg on it; the final
    ``left_anti`` join is keyed on ``doc_id`` and AQE broadcasts the
    loser side when it is small, so the corpus itself never reshuffles.
    """
    pairs = cosine_near_dup_pairs(
        embeddings,
        threshold=threshold,
        dims=dims,
    )
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return docs.join(losers, "doc_id", "left_anti")


def _coarse_lists(
    embeddings: DataFrame, n_centroids: int
) -> tuple[DataFrame, int]:
    """IVF coarse quantization: assign every corpus vector to its
    nearest sampled centroid (the ``n_centroids`` lowest-vec_id
    vectors). Returns ((vec_id, emb, n2, cid), d).

    The assignment is the IVF build's hot loop (N x C cosines): it
    runs as ONE numpy matmul per Arrow batch inside ``mapInPandas``
    against the (small, driver-collected) centroid matrix — measured
    100k x 256 x 64d: 46.7s as interpreted ``zip_with`` expressions vs
    ~1s vectorized. Map-only, no shuffle. Ties (round(cos,4)) break to
    the smaller centroid id (argmax over ascending-cid columns) so
    list assignment is total-ordered."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    cent_rows = sorted(
        embeddings.orderBy("vec_id").limit(n_centroids).collect(),
        key=lambda r: r.vec_id,
    )
    cids = np.array([r.vec_id for r in cent_rows], dtype=np.int64)
    cmat = np.array([list(r.embedding) for r in cent_rows], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))

    id_field = embeddings.schema["vec_id"].dataType.simpleString()
    assign_schema = (
        f"vec_id {id_field}, emb array<float>, n2 double, cid long"
    )

    def assign_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            n2 = np.sqrt((m * m).sum(axis=1))
            sims = np.round(
                (m @ cmat.T) / np.outer(n2, cnorm), 4
            )
            # argmax returns the FIRST max column; columns are in
            # ascending cid order, so ties break to the smaller cid
            best = cids[np.argmax(sims, axis=1)]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "emb": pdf["embedding"],
                    "n2": n2,
                    "cid": best,
                }
            )

    lists = embeddings.select("vec_id", "embedding").mapInPandas(
        assign_batches, assign_schema
    )
    return lists, int(cmat.shape[1])


def _query_probes(
    embeddings: DataFrame,
    queries: DataFrame,
    n_centroids: int,
    n_probe: int,
    d: int,
) -> DataFrame:
    """The ``n_probe`` nearest coarse lists per query vector:
    (q_id, q_emb, n1, cid). Tiny side (Q x C) — the expression path
    suffices; centroid table broadcast."""
    cents = F.broadcast(
        embeddings.orderBy("vec_id")
        .limit(n_centroids)
        .select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cent")
        )
    )
    cent_norm = cents.withColumn("cn", _norm_expr("cent", d))
    q = _with_norm(
        queries.select("q_id", F.col("q_emb").alias("embedding")), dims=d
    )
    q_scored = q.crossJoin(cent_norm).withColumn(
        "ccos", _cos_expr("embedding", "cent", "nrm", "cn", d)
    )
    return (
        _topk(q_scored, "q_id", "ccos", "cid", n_probe, rank="crank")
        .select(
            "q_id", F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("n1"), "cid",
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 32,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into ``n_centroids``
    inverted lists, probe the ``n_probe`` nearest lists per query, exact
    cosine re-score + top-k inside them. Same output schema as
    ``cosine_topk`` / ``lsh_cosine_topk``.

    Centroids are the ``n_centroids`` lowest-vec_id corpus vectors
    (sampled coarse quantizer — deterministic and engine-reproducible;
    a Lloyd refinement would add recall but makes results depend on
    float summation order, so it belongs behind a recall soak, not an
    equality oracle). See :func:`_coarse_lists` for the vectorized
    assignment and :func:`_query_probes` for the probe stage (both
    shared with ``pq.ivf_pq_topk``).
    """
    lists, d = _coarse_lists(embeddings, n_centroids)
    probes = _query_probes(embeddings, queries, n_centroids, n_probe, d)
    cand = (
        probes.join(lists, "cid")
        .filter(F.col("q_id") != F.col("vec_id"))
        .dropDuplicates(["q_id", "vec_id"])
    )
    return _cos_topk(cand, d, k)


def lsh_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dims: int = 8,
    tables: int = 1,
    vec_dims: int | None = None,
) -> DataFrame:
    """Bucketed ANN: candidates share a sign-pattern bucket in any of
    ``tables`` hash tables (disjoint dimension bands), then exact cosine
    re-scoring + top-k. Approximate by construction — same schema as
    ``cosine_topk``. More tables raise recall (OR-amplification) at
    ``tables``x the candidate-join volume; 100k-vector soak
    (BENCH/soak_ann.py): 1 table recall@5 0.29 (2.9s), 6 tables 0.936
    (4.3s) vs 18.5s brute force. Pass ``vec_dims`` when the embedding
    width is known to skip the three probe jobs (they re-execute the
    full upstream plan for one row — expensive when the embeddings come
    out of a mapInPandas feature extractor)."""
    d = _probe_dims(embeddings, "embedding", vec_dims)
    e = sign_buckets_multi(
        _with_norm(embeddings, dims=d), dims, tables, width=d
    ).select(
        "vec_id",
        F.col("embedding").alias("emb"),
        F.col("nrm").alias("n2"),
        "table",
        "bucket",
    )
    q = sign_buckets_multi(
        _with_norm(
            queries.select("q_id", F.col("q_emb").alias("embedding")),
            dims=d,
        ),
        dims,
        tables,
        width=d,
    ).select(
        "q_id",
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("n1"),
        "table",
        "bucket",
    )
    cand = (
        q.join(e, ["table", "bucket"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "q_emb", "n1", "vec_id", "emb", "n2")
        .dropDuplicates(["q_id", "vec_id"])
    )
    return _cos_topk(cand, d, k)
