"""Product quantization (PQ) for embedding-column ANN: train per-
subspace codebooks, encode every vector as ``m`` small codes, and
answer top-k queries with an asymmetric-distance (ADC) scan that reads
ONLY the ``m`` codes per corpus vector.

This is the third ANN scale path in the repo, and the one that matters
at 100 TB: ``lsh_cosine_topk`` and ``ivf_topk`` prune WHICH vectors a
query touches, but both still re-score candidates against full-width
embeddings — the corpus stays 64 float32s per row. PQ compresses the
scanned representation itself: with m=4 / ksub=16 each vector is 4
codes (4 bytes vs 256, 64x), the codebooks are driver-known literals,
encoding is a PURE MAP (plan-pinned, zero shuffle), and the ADC scan
costs m ``element_at`` lookups per (query, vector) pair against a
per-query lookup table computed ONCE per query row. After encoding,
the corpus is never re-read at full width. (Jegou, Douze, Schmid '11,
"Product Quantization for Nearest Neighbor Search", IEEE TPAMI 33(1);
the inner-product LUT scoring follows the MIPS-quantization line of
Guo et al. '16, arXiv:1509.01469.)

Determinism: the same rounded-fixed-point discipline as
``clustering.kmeans_assign`` — codebooks seed from the ``ksub``
lowest-vec_id vectors' subvectors, assignment is by round-4
within-subspace cosine with ties to the smaller code, and every
updated centroid coordinate re-rounds to 6 dp before the next pass —
so the inherently iterative training matches an exact DuckDB oracle
(``_pq_ctes`` in driver_contract mirrors the passes as SQL CTEs). A
code that loses all members simply disappears from later passes
(deterministic in both engines; mirrors the kmeans convention).

Scale shape per training iteration: assignment is a pure map (the
codebooks are literals — each row argmaxes a ksub-element (cos,
-code) struct array per subspace); the update explodes to N*d rows
but partial aggregation compresses map-side to m*ksub*dsub per task,
so the one shuffle moves O(tasks * m * ksub * dsub) rows. Codebooks
collect to the driver between passes (m*ksub*dsub doubles — tiny, and
the collect CUTS LINEAGE exactly as in ``kmeans_assign``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .similarity import _cos_expr, _norm_expr, _probe_dims, _topk

# codebook[s] = list of (code, centroid) pairs for subspace s; codes
# are 0..ksub-1 in ascending seed-vec_id order (dead codes absent)
Codebooks = list[list[tuple[int, list[float]]]]


def _dlit(v: float) -> str:
    """repr round-trips through the SQL parser to the identical IEEE
    double (see clustering._assign — one parsed expr string beats k*d
    py4j literal round-trips)."""
    return f"CAST('{v!r}' AS DOUBLE)"


def _with_subs(
    emb: DataFrame,
    m: int,
    dsub: int,
    col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Project (vec_id, *keep, sub_0..sub_{m-1}, nrm_0..nrm_{m-1}):
    the m subvector slices and their norms, each computed once per
    row."""
    out = emb.select(
        "vec_id",
        *keep,
        *[
            F.slice(F.col(col), s * dsub + 1, dsub).alias(f"sub_{s}")
            for s in range(m)
        ],
    )
    for s in range(m):
        out = out.withColumn(f"nrm_{s}", _norm_expr(f"sub_{s}", dsub))
    return out


def _code_expr(sub_col: str, nrm_col: str, book, dsub: int):
    """Nearest-code struct for one subspace: argmax over the codebook
    of round-4 cosine, ties to the SMALLER code (struct ordering on
    (cos, -code), cf. clustering._assign)."""
    entries = []
    for code, cent in book:
        carr = "array(" + ",".join(_dlit(float(v)) for v in cent) + ")"
        cn = math.sqrt(sum(v * v for v in cent))
        dot = (
            f"aggregate(zip_with({sub_col}, {carr}, "
            "(x, y) -> CAST(x AS DOUBLE) * y), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        entries.append(
            f"struct(round({dot} / ({nrm_col} * {_dlit(cn)}), 4) AS cos, "
            f"CAST({-code} AS BIGINT) AS ncode)"
        )
    return F.expr("array_max(array(" + ",".join(entries) + "))")


def _wide_codes_expr(
    subs: DataFrame,
    books: Codebooks,
    m: int,
    dsub: int,
    keep: tuple[str, ...] = (),
    carry_subs: bool = False,
):
    """Expression-path encode (the pre-r6 form, kept as the
    non-conforming-row fallback and semantics reference)."""
    return subs.select(
        "vec_id",
        *keep,
        *[
            (-_code_expr(f"sub_{s}", f"nrm_{s}", books[s], dsub)["ncode"])
            .cast("int")
            .alias(f"code_{s}")
            for s in range(m)
        ],
        *([f"sub_{s}" for s in range(m)] if carry_subs else []),
    )


def _wide_codes(
    subs: DataFrame,
    books: Codebooks,
    m: int,
    dsub: int,
    keep: tuple[str, ...] = (),
    carry_subs: bool = False,
):
    """(vec_id, *keep, code_0..code_{m-1}[, sub_0..]) — pure map over
    the subvector projection (codebooks are literals: no join, no
    shuffle).

    r6 shape: conforming rows (every subvector exactly ``dsub``
    non-null floats) score through a vectorized mapInPandas kernel —
    ``similarity._fold_cos_matrix`` reproduces the expression fold
    bit-for-bit and ``_round4_argmax`` resolves the round-4 argmax
    with exact decimal rounding only on within-margin ties — while
    non-conforming rows keep the original ``_code_expr`` path (their
    NULL-cosine semantics are exactly Spark's) and union in. Still a
    map-only plan (mapInPandas + filtered scan branches, zero
    Exchange); the m x ksub interpreted aggregates per row were the
    bulk of pq_encode's wall at sf1.0."""
    import math

    import numpy as np
    import pandas as pd

    from .similarity import _fold_cos_matrix, _round4_argmax

    # conform = every subvector has dsub FINITE non-null elements and
    # a nonzero norm; excluded classes keep the expression path (NULL
    # cos must stay NULL, NaN must stay NaN through Arrow, zero-norm
    # divides by zero = ANSI raise — cf. clustering._assign's r6 note)
    ok = None
    for s in range(m):
        c = (
            (F.size(f"sub_{s}") == F.lit(dsub))
            & (F.size(F.array_compact(f"sub_{s}")) == F.lit(dsub))
            & ~F.expr(
                f"exists(sub_{s}, "
                "x -> isnan(x) OR abs(x) = float('Infinity'))"
            )
            & ~(
                (F.array_max(f"sub_{s}") == F.lit(0.0))
                & (F.array_min(f"sub_{s}") == F.lit(0.0))
            )
        )
        ok = c if ok is None else (ok & c)
    if any(
        not math.isfinite(sum(x * x for x in v)) or sum(x * x for x in v) == 0
        for bk in books
        for _, v in bk
    ):
        # zero/non-finite codebook entry: expression path wholesale
        return _wide_codes_expr(subs, books, m, dsub, keep, carry_subs)
    conform = subs.filter(ok).select(
        "vec_id", *keep, *[f"sub_{s}" for s in range(m)]
    )
    rest = subs.filter(F.coalesce(~ok, F.lit(True)))

    codes_l = [np.array([c for c, _ in bk], np.int64) for bk in books]
    cmats = [
        np.array([v for _, v in bk], dtype=np.float64) for bk in books
    ]
    cns = [
        np.array(
            [math.sqrt(sum(x * x for x in v)) for _, v in bk]
        )
        for bk in books
    ]
    fields = {f.name: f.dataType.simpleString() for f in subs.schema}
    out_schema = ", ".join(
        [f"vec_id {fields['vec_id']}"]
        + [f"{c} {fields[c]}" for c in keep]
        + [f"code_{s} int" for s in range(m)]
        + (
            [f"sub_{s} array<float>" for s in range(m)]
            if carry_subs
            else []
        )
    )

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for c in keep:
                out[c] = pdf[c]
            for s in range(m):
                ms = np.array(
                    pdf[f"sub_{s}"].tolist(), dtype=np.float64
                )
                cos = _fold_cos_matrix(ms, cmats[s], cns[s])
                win, _ = _round4_argmax(cos, want_rounded=False)
                out[f"code_{s}"] = codes_l[s][win].astype(np.int32)
            if carry_subs:
                for s in range(m):
                    out[f"sub_{s}"] = pdf[f"sub_{s}"]
            yield pd.DataFrame(out)

    fast = conform.mapInPandas(encode, out_schema)
    return fast.unionByName(
        _wide_codes_expr(rest, books, m, dsub, keep, carry_subs)
    )


def _nsq(books: Codebooks, m: int, ksub: int) -> list[list[float]]:
    """Norm^2 LUTs: full ksub-length tables per subspace; dead-code
    slots hold 0.0 and are unreachable (a dead code is never
    assigned)."""
    out = [[0.0] * ksub for _ in range(m)]
    for s in range(m):
        for code, cent in books[s]:
            out[s][code] = sum(v * v for v in cent)
    return out


def _with_luts(
    q: DataFrame, books: Codebooks, m: int, ksub: int, dsub: int
) -> DataFrame:
    """Per-query ADC lookup tables: lut_s[j] = <q_s, c_{s,j}>, one
    ksub-length array column per subspace, computed ONCE per query
    row. Dead-code slots are 0.0 literals (unreachable)."""
    for s in range(m):
        qsub = f"slice(q_emb, {s * dsub + 1}, {dsub})"
        cells = []
        alive = dict(books[s])
        for j in range(ksub):
            if j in alive:
                carr = "array(" + ",".join(
                    _dlit(float(v)) for v in alive[j]
                ) + ")"
                cells.append(
                    f"aggregate(zip_with({qsub}, {carr}, "
                    "(x, y) -> CAST(x AS DOUBLE) * y), "
                    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
                )
            else:
                cells.append("CAST(0.0 AS DOUBLE)")
        q = q.withColumn(
            f"lut_{s}", F.expr("array(" + ",".join(cells) + ")")
        )
    return q


def _sub_width(
    embeddings: DataFrame, m: int, vec_dims: int | None
) -> tuple[int, int]:
    """(d, d // m): the vector width, which must split into ``m`` equal
    subvectors."""
    d = _probe_dims(embeddings, "embedding", vec_dims)
    if d is None or d % m:
        raise ValueError(f"vector width {d} not divisible by m={m}")
    return d, d // m


def _adc_score(pair: DataFrame, nsq: list[list[float]], m: int):
    """round-4 approximate cosine from m LUT lookups + one sqrt; the
    m-term sums fold left-to-right (s ascending) in both engines."""
    dot = None
    rn2 = None
    for s in range(m):
        t = F.element_at(F.col(f"lut_{s}"), F.col(f"code_{s}") + 1)
        narr = "array(" + ",".join(_dlit(v) for v in nsq[s]) + ")"
        n = F.element_at(F.expr(narr), F.col(f"code_{s}") + 1)
        dot = t if dot is None else dot + t
        rn2 = n if rn2 is None else rn2 + n
    return pair.withColumn(
        "score", F.round(dot / (F.col("n1") * F.sqrt(rn2)), 4)
    )


def _rerank(
    shortlist: DataFrame, embeddings: DataFrame, d: int, k: int
) -> DataFrame:
    """Exact-cosine re-rank of an ADC shortlist: the (q_id, vec_id,
    q_emb, n1) shortlist is broadcast into the embeddings join — the
    corpus never shuffles — re-scored at full width, top-k."""
    e2 = embeddings.select(
        "vec_id", F.col("embedding").alias("emb")
    ).withColumn("n2", _norm_expr("emb", d))
    rescored = e2.join(F.broadcast(shortlist), "vec_id").withColumn(
        "score", _cos_expr("q_emb", "emb", "n1", "n2", d)
    )
    return _topk(rescored, "q_id", "score", "vec_id", k).select(
        "q_id", "vec_id", "score", "rank"
    )


def _adc_topk(
    pair: DataFrame,
    nsq: list[list[float]],
    m: int,
    embeddings: DataFrame,
    d: int,
    k: int,
    refine: int | None,
) -> DataFrame:
    """ADC-score the (query, candidate) pairs and rank them: the ADC
    top-k, or with ``refine`` the ADC top-``refine`` shortlist
    re-ranked at full width by :func:`_rerank`."""
    scored = _adc_score(pair, nsq, m)
    if refine is None:
        return _topk(scored, "q_id", "score", "vec_id", k).select(
            "q_id", "vec_id", "score", "rank"
        )
    if refine < k:
        raise ValueError(f"refine={refine} must be >= k={k}")
    shortlist = _topk(
        scored, "q_id", "score", "vec_id", refine, rank="srank"
    ).select("q_id", "vec_id", "q_emb", "n1")
    return _rerank(shortlist, embeddings, d, k)


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    ksub: int = 16,
    iters: int = 1,
    vec_dims: int | None = None,
) -> Codebooks:
    """Train the per-subspace codebooks: seeds = the ``ksub``
    lowest-vec_id vectors' subvectors (code j = rank-j seed), then
    ``iters`` rounded Lloyd refinement passes per subspace (spherical:
    assignment by round-4 cosine, update = per-coordinate mean rounded
    to 6 dp). Returns driver-side literals — m*ksub*dsub doubles."""
    _, dsub = _sub_width(embeddings, m, vec_dims)
    seeds = sorted(
        embeddings.orderBy("vec_id").limit(ksub).collect(),
        key=lambda r: r.vec_id,
    )
    books: Codebooks = [
        [
            (j, [float(v) for v in r.embedding[s * dsub : (s + 1) * dsub]])
            for j, r in enumerate(seeds)
        ]
        for s in range(m)
    ]
    if not iters:
        return books
    subs = _with_subs(embeddings.select("vec_id", "embedding"), m, dsub)
    for _ in range(iters):
        # r6: the per-iteration assignment runs through the vectorized
        # _wide_codes kernel (carrying the subvectors so the update
        # explode needs no join); codes identical to the _code_expr
        # form by the _fold_cos_matrix/_round4_argmax exactness
        # argument
        coded = _wide_codes(subs, books, m, dsub, carry_subs=True)
        stacked = coded.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.col(f"code_{s}").alias("code"),
                            F.col(f"sub_{s}").alias("sub"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("e")
        )
        upd = (
            stacked.select(
                F.col("e.s").alias("s"),
                F.col("e.code").alias("code"),
                F.posexplode("e.sub").alias("pos", "v"),
            )
            .groupBy("s", "code", "pos")
            .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("cv"))
            .collect()
        )
        by: dict[tuple[int, int], list[tuple[int, float]]] = {}
        for r in upd:
            by.setdefault((int(r.s), int(r.code)), []).append(
                (int(r.pos), float(r.cv))
            )
        books = [
            [
                (code, [v for _, v in sorted(pv)])
                for (s2, code), pv in sorted(by.items())
                if s2 == s
            ]
            for s in range(m)
        ]
    return books


def pq_encode(
    embeddings: DataFrame,
    m: int = 4,
    ksub: int = 16,
    iters: int = 1,
    vec_dims: int | None = None,
    codebooks: Codebooks | None = None,
) -> DataFrame:
    """PQ-encode the corpus: (vec_id, sub, code) long form — ``m`` rows
    per vector, ``code`` the nearest final-codebook entry for that
    subspace. The encode itself is a PURE MAP (training collects happen
    before; the returned plan is scan -> project -> explode, zero
    Exchange — plan-pinned by test_pq_encode_is_pure_map)."""
    d, dsub = _sub_width(embeddings, m, vec_dims)
    books = (
        codebooks
        if codebooks is not None
        else pq_codebooks(embeddings, m, ksub, iters, vec_dims=d)
    )
    subs = _with_subs(embeddings.select("vec_id", "embedding"), m, dsub)
    wide = _wide_codes(subs, books, m, dsub)
    return wide.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.col(f"code_{s}").alias("code"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select("vec_id", "e.sub", "e.code")


def pq_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    iters: int = 1,
    vec_dims: int | None = None,
    refine: int | None = None,
) -> DataFrame:
    """ADC top-k: approximate cosine = LUT-summed inner product against
    each vector's reconstruction, over the PQ codes only.

    score(q, x) = round( sum_s LUT_q[s][code_s(x)]
                         / (||q|| * sqrt(sum_s ||c_{s,code_s(x)}||^2)), 4)

    where LUT_q[s][j] = <q_s, c_{s,j}>. The per-query LUT (m arrays of
    ksub doubles) is computed once per QUERY row; the broadcast
    cross-join then does m ``element_at`` lookups + one sqrt per pair —
    the corpus side carries only (vec_id, m codes). Ranking mirrors
    ``cosine_topk``: score desc, vec_id asc, self-matches excluded.
    Returns (q_id, vec_id, score, rank).

    ``refine`` is the production recall lever (the FAISS-style
    shortlist + re-rank): take the ADC top-``refine`` per query, fetch
    ONLY those vectors at full width (the shortlist — Q*refine rows —
    is broadcast into the embeddings join, so the corpus never
    shuffles), exact-cosine re-score and return the final top-k.
    Quantization error then only has to keep the true neighbours
    inside the shortlist, not rank them — so size ``refine`` as a
    FRACTION of the corpus, not a constant: on the planted-cluster
    soak corpus (BENCH/soak_ann.py), plain ADC recall@5 is 0.07 at
    20k vectors and 0.004 at 100k, refine=100 reads 0.972 at 20k
    (0.5% of corpus) but only 0.252 at 100k (0.1%), while refine=500
    (back to 0.5%) restores 0.984 at 100k. At corpus scales where a
    0.5% shortlist is itself too large, compose with a coarse
    partitioner first (the FAISS IVF+PQ shape — ``ivf_topk``'s list
    assignment bounding the ADC scan). With refine None the plain ADC
    ranking is returned — the compressed-domain scan the oracle checks
    end to end."""
    d, dsub = _sub_width(embeddings, m, vec_dims)
    books = pq_codebooks(embeddings, m, ksub, iters, vec_dims=d)
    subs = _with_subs(embeddings.select("vec_id", "embedding"), m, dsub)
    enc = _wide_codes(subs, books, m, dsub)
    nsq = _nsq(books, m, ksub)

    q = queries.select(
        "q_id", F.col("q_emb").alias("q_emb")
    ).withColumn("n1", _norm_expr("q_emb", d))
    q = _with_luts(q, books, m, ksub, dsub)

    pair = F.broadcast(q).crossJoin(enc).filter(
        F.col("q_id") != F.col("vec_id")
    )
    return _adc_topk(pair, nsq, m, embeddings, d, k, refine)


def ivf_pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 32,
    n_probe: int = 4,
    m: int = 4,
    ksub: int = 16,
    iters: int = 1,
    refine: int | None = None,
) -> DataFrame:
    """IVF+PQ composed ANN — the FAISS IVFADC shape (Jegou '11 §V):
    the coarse quantizer bounds WHICH vectors each query scans
    (``similarity._coarse_lists`` / ``_query_probes``, shared with
    ``ivf_topk``), PQ compresses WHAT the scan reads (m codes per
    vector, ADC LUT scoring) — so a query touches ~n_probe/n_centroids
    of the corpus at ~m bytes per vector instead of full width.

    Plan shape: coarse assignment is a vectorized ``mapInPandas`` map
    (no shuffle), PQ encode chains on it as pure projections (codebooks
    are driver literals), the probe side (tiny: Q x n_probe rows,
    LUTs computed per probe row) BROADCASTS into the list join — the
    corpus never hash-shuffles; the only corpus-width exchanges are
    the two per-query rank windows. ``refine`` re-ranks the ADC
    shortlist at full width exactly as in ``pq_ann_topk`` (the
    shortlist broadcasts; the corpus side of the re-rank join streams).

    Codes are trained GLOBALLY (not per-list residuals as in FAISS's
    default IVFADC): residual encoding would couple every codebook to
    the coarse assignment and make the oracle's CTE unroll quadratic;
    global codes keep train/encode/scan each independently checkable.
    Ranking mirrors ``cosine_topk``: round-4 score desc, vec_id asc,
    self-matches excluded. Returns (q_id, vec_id, score, rank).
    """
    from .similarity import _coarse_lists, _query_probes

    lists, d = _coarse_lists(embeddings, n_centroids)
    d, dsub = _sub_width(embeddings, m, d)
    books = pq_codebooks(embeddings, m, ksub, iters, vec_dims=d)
    subs = _with_subs(lists, m, dsub, col="emb", keep=("cid",))
    enc = _wide_codes(subs, books, m, dsub, keep=("cid",))
    nsq = _nsq(books, m, ksub)

    probes = _query_probes(embeddings, queries, n_centroids, n_probe, d)
    qp = _with_luts(probes, books, m, ksub, dsub)

    # each corpus vector lives in exactly ONE list and each query
    # probes n_probe DISTINCT lists, so the cid join yields every
    # (query, candidate) pair at most once — no dedup needed
    pair = F.broadcast(qp).join(enc, "cid").filter(
        F.col("q_id") != F.col("vec_id")
    )
    return _adc_topk(pair, nsq, m, embeddings, d, k, refine)
