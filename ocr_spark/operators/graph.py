"""Link-graph operators: PageRank over a (src, dst) edge relation.

The reference has no link-analysis stage; this family serves the
web-curation side of the pipeline (Common-Crawl-style host ranking as a
page-quality prior, cf. the harmonic-centrality ranking CC publishes).
Spark-first shape: the edge list is the big relation and is touched
once per power iteration through a node-keyed join + one aggregation;
ranks are a node-sized relation that localCheckpoints every iteration
(the connected_components precedent — truncate lineage instead of
growing a 3-iteration mega-plan).

Cross-engine fixed-point contract: every iteration's rank passes
through a float32 cast (never ``round(x, 6)`` — a decimal round can
tie-diverge between engines, the cast of a bit-identical double
cannot), and all arithmetic is explicit-DOUBLE on both engines (DuckDB
would otherwise evaluate FLOAT/BIGINT in float32 while Spark widens to
double).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _edges_and_nodes(
    edges: DataFrame, iters: int
) -> tuple[DataFrame, DataFrame]:
    """The distinct (src, dst) edges and the (node) set they touch,
    each checkpointed once for the iterations that reuse them."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return e, nodes


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 3,
    checkpoint: bool = True,
) -> DataFrame:
    """PageRank with uniform teleport and dangling-mass redistribution.

    ``edges`` is a directed (src, dst) relation (multi-edges collapse
    via distinct; self-loops participate like any edge — both engines
    see the same graph, so the policy only has to be consistent).
    Returns (node, rank) after exactly ``iters`` power iterations,
    rank as float32.

    Update rule per iteration (classic Brin/Page with dangling mass):

        rank'(v) = (1-d)/N + d * (sum_{u->v} rank(u)/outdeg(u)
                                  + dangling_mass / N)

    Scale notes:
    - The per-iteration big-relation work is edges JOIN ranks (ranks is
      node-sized — AQE broadcasts it when hosts << edges, the common
      web-graph regime) followed by ONE groupBy(dst) sum with map-side
      partials. Nothing corpus-sized ever sorts.
    - N and the iteration count are driver literals; each iteration's
      node-sized result localCheckpoints, deliberately cutting lineage
      (kmeans_assign precedent). ``checkpoint=False`` keeps the full
      lineage instead — ONLY for plan inspection/tests (the plan grows
      per iteration); production callers leave it on.
    - dangling mass is a 1-row aggregate crossJoined in (broadcast —
      Spark plans a 1-row BNLJ, never a real cartesian).
    """
    e, nodes = _edges_and_nodes(edges, iters)
    n = nodes.count()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # (src, dst, outdeg) — built once, reused every iteration
    linked = e.join(outdeg, "src").localCheckpoint(eager=True)
    # the dangling-node SET is iteration-invariant: derive it once
    # (its MASS changes per iteration and is re-aggregated below)
    dangling = (
        nodes.join(outdeg, nodes["node"] == outdeg["src"], "left_anti")
        .localCheckpoint(eager=True)
    )

    base = F.lit(1.0 - damping) / F.lit(float(n))
    ranks = nodes.withColumn(
        "rank", (F.lit(1.0) / F.lit(float(n))).cast("float")
    ).localCheckpoint(eager=True)

    for _ in range(iters):
        contrib = (
            linked.join(ranks, linked["src"] == ranks["node"])
            .groupBy("dst")
            .agg(
                F.sum(
                    F.col("rank").cast("double")
                    / F.col("outdeg").cast("double")
                ).alias("contrib")
            )
        )
        dang = (
            ranks.join(dangling, "node", "left_semi")
            .agg(
                F.coalesce(
                    F.sum(F.col("rank").cast("double")), F.lit(0.0)
                ).alias("dang")
            )
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    base
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dang") / F.lit(float(n))
                    )
                )
                .cast("float")
                .alias("rank"),
            )
        )
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def hits(
    edges: DataFrame,
    iters: int = 3,
    checkpoint: bool = True,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg '99) over a (src, dst)
    relation — the link-analysis complement to :func:`pagerank`:
    authorities are pages good sources point AT, hubs are pages that
    point at good authorities (a dst-only node is a pure authority,
    hub 0; a src-only node the reverse).

    Per iteration (Kleinberg's order — the NEW authority feeds the hub
    update): auth'(v) = sum over in-edges of hub(u), L1-normalized;
    hub'(u) = sum over out-edges of auth'(v), L1-normalized. L1 rather
    than Kleinberg's L2 norm (documented variant): the ranking is
    norm-invariant and L1 avoids a sqrt on the cross-engine path.
    Scores pass a float32 cast per normalization (the pagerank
    cross-engine fixed-point contract; all arithmetic explicit-DOUBLE).

    Scale shape mirrors pagerank: the edge relation is the only big
    input and is touched twice per iteration through node-keyed joins
    + ONE groupBy sum each (map-side partials; AQE broadcasts the
    node-sized score relation when nodes << edges). The L1 norm is a
    1-row aggregate crossJoined back in (broadcast BNLJ). Node-sized
    results localCheckpoint per iteration (lineage cut);
    ``checkpoint=False`` is the plan-inspection escape hatch only.

    Returns (node, hub float32, auth float32).
    """
    e, nodes = _edges_and_nodes(edges, iters)
    hub = nodes.withColumn("hub", F.lit(1.0).cast("float"))
    auth = None

    def _l1_normalize(raw: DataFrame, col: str) -> DataFrame:
        norm = raw.agg(
            F.sum(F.col("_raw").cast("double")).alias("_norm")
        )
        return raw.crossJoin(F.broadcast(norm)).select(
            "node",
            (F.col("_raw").cast("double") / F.col("_norm"))
            .cast("float")
            .alias(col),
        )

    for _ in range(iters):
        a_raw = (
            nodes.join(e, nodes["node"] == e["dst"], "left")
            .join(
                hub.select(
                    F.col("node").alias("_hn"), F.col("hub").alias("_hs")
                ),
                F.col("src") == F.col("_hn"),
                "left",
            )
            .groupBy("node")
            .agg(
                F.coalesce(
                    F.sum(F.col("_hs").cast("double")), F.lit(0.0)
                ).alias("_raw")
            )
        )
        auth = _l1_normalize(a_raw, "auth")
        if checkpoint:
            auth = auth.localCheckpoint(eager=True)
        h_raw = (
            nodes.join(e, nodes["node"] == e["src"], "left")
            .join(
                auth.select(
                    F.col("node").alias("_an"),
                    F.col("auth").alias("_as"),
                ),
                F.col("dst") == F.col("_an"),
                "left",
            )
            .groupBy("node")
            .agg(
                F.coalesce(
                    F.sum(F.col("_as").cast("double")), F.lit(0.0)
                ).alias("_raw")
            )
        )
        hub = _l1_normalize(h_raw, "hub")
        if checkpoint:
            hub = hub.localCheckpoint(eager=True)
    return hub.join(auth, "node").select("node", "hub", "auth")


def anchor_topk(edges: DataFrame, k: int = 3) -> DataFrame:
    """Anchor-text aggregation per link target: the top-``k`` most
    frequent anchor strings pointing at each destination — the
    document-expansion signal web corpora attach to pages (anchor
    text describes the TARGET better than the target's own boilerplate
    does; the classic TREC web-track / WebText-style enrichment).

    ``edges`` is (src, dst, anchor). Returns (dst, anchor, cnt, rk)
    with rk ranked by (cnt DESC, anchor ASC) — the lexicographic
    tie-break keeps the output deterministic under equal counts.

    Scale shape: one (dst, anchor) hash-agg with map-side partials
    (the raw edge relation collapses before any window sees it), then
    a literal-k rank filter over the already-aggregated counts, which
    compiles to WindowGroupLimit Partial+Final — parallelism scales
    with the number of distinct targets, and each partition pre-trims
    to its local top-k before the exchange (the weighted_sample
    discipline). The anchor strings of a mega-indegree host are
    bounded by its distinct-anchor count after the first agg, so the
    window never sees the raw fan-in.
    """
    cnt = edges.groupBy("dst", "anchor").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("dst").orderBy(
        F.col("cnt").desc(), F.col("anchor").asc()
    )
    return cnt.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )
