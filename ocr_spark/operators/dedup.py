"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH.

Scale design notes (100 TB target):
- exact dedup is one hash aggregation on a fingerprint — map-side
  partial agg, one shuffle keyed by the fingerprint (uniform).
- n-gram Jaccard pairs go through an *inverted index* join (explode
  shingles -> self-join on shingle), never a cross join; common-shingle
  skew is bounded by dropping shingles with document frequency above a
  cap (standard posting-list pruning).
- MinHash (Broder, "On the resemblance and containment of documents",
  SEQUENCES 1997) + LSH banding (Indyk & Motwani, STOC 1998; the banding
  construction per Leskovec/Rajaraman/Ullman, Mining of Massive Datasets
  ch.3): per-document signatures via one explode + min-agg,
  banding via md5 of the band's minhash concat, candidate pairs only
  within equal (band, key) buckets — the classic shingle -> minhash ->
  band -> bucket-join pipeline; verification recomputes true Jaccard on
  candidates only, in one step (``_verify_candidates``) shared by self
  pairs (MinHash, winnowing) and cross-corpus pairs (incremental and
  fuzzy-decontamination runs), with the same df cap (``_cap_df``) as
  the posting-list join.

All built-in column expressions (md5-based hashing so DuckDB oracles
match bit-for-bit); no UDFs, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ocr_spark.operators.textops import (
    TOKENS_LC,
    _ensure_parallelism,
    with_fingerprint,
)

SHINGLES = (
    "transform(sequence(0, size(toks) - {n}), "
    "i -> concat_ws(' ', slice(toks, i + 1, {n})))"
)

# The MinHash family's one LSH setting: word 3-gram shingles, 16 hashes
# in 8 bands of 2. Band keys from band_keys (the incremental store and
# fuzzy decontamination) stay join-compatible with minhash_lsh_pairs'
# only while every caller uses it.
MINHASH_N, MINHASH_HASHES, MINHASH_BANDS = 3, 16, 8
# posting-list cap of the Jaccard joins: shingles that more documents
# hold are pruned
SHINGLE_MAX_DF = 1000


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact duplicate groups by content fingerprint.

    Returns (fingerprint, keep_id, n_dups): the survivor is the min
    doc_id — the reference's duplicate-filename rule grafted to content
    hashing (/root/reference/documents/…2학기_8주차.md:52).
    """
    return (
        with_fingerprint(df)
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def dedup_keep_best(
    df: DataFrame, quality_col: str
) -> DataFrame:
    """Exact dedup with a keep-BEST policy: within each content-
    fingerprint group the survivor is the row with the highest
    ``quality_col`` (ties → min ``doc_id``), not the min-id row
    ``exact_dedup`` keeps. The production curation rule: among
    canonically-identical copies keep the one the quality signal ranks
    highest (the longer / cleaner-source / later-crawl copy).

    Returns (fingerprint, keep_id, best_quality, n_dups).

    Plan: ONE hash aggregation on fingerprint — survivor selection is
    ``max_by`` over a (quality, -id) struct (lexicographic struct
    comparison encodes the tie-break), which keeps map-side partial
    aggregation; no window, so no per-group sort and no second shuffle.
    """
    return (
        with_fingerprint(df)
        .groupBy("fingerprint")
        .agg(
            F.max_by(
                "doc_id",
                F.struct(
                    F.col(quality_col).alias("q"),
                    (-F.col("doc_id")).alias("nid"),
                ),
            ).alias("keep_id"),
            F.max(quality_col).alias("best_quality"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _turn_md5s(canon):
    """Aggregate: one conversation's per-turn ``md5(canon)`` in
    ``turn_idx`` order (duplicate indexes tie-break on the md5)."""
    return F.transform(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("turn_idx").cast("long").alias("i"),
                    F.md5(canon).alias("c"),
                )
            )
        ),
        lambda x: x["c"],
    )


def conv_dedup(df: DataFrame) -> DataFrame:
    """Whole-CONVERSATION exact dedup — the transcript-granularity
    member of the dedup family (turn-level = ``dedup_turns``,
    document-level = ``exact_dedup``): two conversations are duplicates
    when their turn sequences are ws/case-canonically equal in turn
    order.

    Fingerprint = md5 over the PER-TURN md5s of the canonical forms
    (lowercased, whitespace collapsed — the ``with_fingerprint``
    convention) joined with ``\\n`` in ``turn_idx`` order. Hashing each
    turn BEFORE the concat bounds the aggregated row at 33 bytes per
    turn regardless of turn text size — a 10k-turn text-heavy whale
    conversation collects ~330 KB, not multi-GB of raw text. Order
    comes from ``sort_array`` over collected (idx, turn_md5) structs —
    ``collect_list`` alone is partition-order-nondeterministic and
    would break both determinism and the oracle; duplicate ``turn_idx``
    rows tie-break on the turn md5 (deterministic on both engines).

    Returns (fp, keep_conv, n_dups): min conv id survives. One
    conversation-keyed shuffle + one fingerprint-keyed hash-agg, both
    map-side-partial; the in-row join is conversation-bounded.
    """
    canon = F.regexp_replace(
        F.lower(F.trim(F.col("text"))), r"\s+", " "
    )
    fps = _ensure_parallelism(df).groupBy("conv_id").agg(
        F.md5(F.array_join(_turn_md5s(canon), "\n")).alias("fp")
    )
    return fps.groupBy("fp").agg(
        F.min("conv_id").alias("keep_conv"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def _with_shingles(df: DataFrame, n: int) -> DataFrame:
    """doc_id + exploded distinct word n-gram shingles."""
    toks = _ensure_parallelism(df).select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    ).filter(F.size("toks") >= n)
    sh = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.expr(SHINGLES.format(n=n)))
        ).alias("shingle"),
    )
    return sh


def _jaccard(size_a: str, size_b: str):
    """round-4 Jaccard of two sets from their sizes and ``inter``."""
    return F.round(
        F.col("inter") / (F.col(size_a) + F.col(size_b) - F.col("inter")), 4
    )


def _cap_df(sh: DataFrame, max_df: int) -> DataFrame:
    """Posting-list pruning: ``sh`` (one row per document and distinct
    shingle) without the shingles that more than ``max_df`` of its
    documents hold — degenerate ultra-common shingles that would
    otherwise dominate a shingle-keyed join. The pruned shingles count
    toward neither sizes nor intersections."""
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    return (
        sh.join(dfreq, "shingle")
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )


def _jaccard_from_shingles(
    sh: DataFrame, threshold: float, max_df: int
) -> DataFrame:
    """Exact-Jaccard pairs from an exploded (doc_id, shingle) relation.

    Inverted-index self-join on shingles (doc_a < doc_b), posting lists
    longer than ``max_df`` pruned to bound skew. The size joins are
    deliberately NOT broadcast-hinted: ``sizes`` has one row per
    document, i.e. it is corpus-sized — a forced broadcast is a driver
    OOM at 10^9 docs. AQE still turns them into broadcast joins at small
    scale when the runtime size is under the threshold.
    """
    sh = _cap_df(sh, max_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", _jaccard("size_a", "size_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "size_a", "size_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.05,
) -> DataFrame:
    """Near-duplicate pairs by word-3-gram Jaccard similarity.

    Returns (doc_a, doc_b, inter, size_a, size_b, jaccard>=threshold).
    """
    return _jaccard_from_shingles(
        _with_shingles(df, MINHASH_N), threshold, SHINGLE_MAX_DF
    )


def _minhash_agg(sh: DataFrame, num_hashes: int) -> DataFrame:
    """Wide MinHash signature (doc_id, mh0..mh{k-1}) from an exploded
    (doc_id, shingle) relation.

    Hash family: element i is the i%4-th 32-bit slice (8 hex chars) of
    md5((i//4) || '#' || shingle) — ceil(k/4) md5 invocations per
    shingle row instead of k (md5 dominated the signature stage: 16
    digests per row measured ~2x the whole-query time of 4). Distinct
    fixed-width slices of one digest are independent uniform 32-bit
    hashes, and lexicographic min over fixed-width lowercase hex equals
    numeric min, so each slice is a valid MinHash family member in any
    engine (no murmur-seed divergence vs the DuckDB oracle). 32-bit
    slices (not 16) keep the chance two unrelated documents share a min
    by raw hash collision at ~shingles/2^33 per element — negligible
    even at 10^9 docs, so LSH candidate sparsity is preserved; 16-bit
    slices would leak O(pairs * 1e-5) false candidates into the verify
    join at corpus scale.

    The digests are projected as explicit columns BEFORE the groupBy so
    exactly ceil(k/4) md5 calls run per row regardless of whether
    codegen's subexpression elimination fires inside the aggregate.
    One pass, map-side partial agg, one shuffle keyed by doc_id.
    """
    n_seeds = (num_hashes + 3) // 4
    digests = sh.select(
        "doc_id",
        *[
            F.md5(F.concat_ws("#", F.lit(s), F.col("shingle"))).alias(
                f"d{s}"
            )
            for s in range(n_seeds)
        ],
    )
    return digests.groupBy("doc_id").agg(
        *[
            F.min(
                F.substring(F.col(f"d{i // 4}"), (i % 4) * 8 + 1, 8)
            ).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    )


def _explode_bands(
    sig: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(doc_id, band, band_key) from a wide signature: band key = md5
    of the band's (sorted) minhashes — unchanged hash family, computed
    from the wide signature without another shuffle."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        members = F.array(
            *[
                F.col(f"mh{b * rows_per_band + j}")
                for j in range(rows_per_band)
            ]
        )
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws("|", F.sort_array(members))
                ).alias("band_key"),
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"),
             F.col("bk.band_key").alias("band_key"))


def band_keys(df: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) LSH band keys for a corpus — the unit
    the incremental near-dup store commits per run (same md5-slice
    hash family as :func:`minhash_lsh_pairs`, so stored keys stay
    join-compatible across runs)."""
    return _explode_bands(
        _minhash_agg(_with_shingles(df, MINHASH_N), MINHASH_HASHES),
        MINHASH_HASHES,
        MINHASH_BANDS,
    )


def _band_candidates(banded: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidate pairs, doc_a < doc_b: documents sharing
    any (band, band_key) of an ``_explode_bands`` relation."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def _verify_candidates(
    cands: DataFrame,
    docs: DataFrame,
    n: int,
    threshold: float,
    max_df: int,
    docs_b: DataFrame | None = None,
) -> DataFrame:
    """Exact word-``n``-gram Jaccard of (doc_a, doc_b) candidate pairs
    from the raw (doc_id, text) documents: ``doc_a`` and ``doc_b`` both
    index ``docs`` (self pairs), or ``doc_b`` indexes ``docs_b`` (cross
    pairs, whose ids may overlap ``docs``' ids). Returns (doc_a, doc_b,
    inter, size_a, size_b, jaccard) with jaccard >= threshold, a subset
    of ``cands``.

    Verifies ONLY candidate documents: at 100 TB the whole point of a
    candidate generator is that the exact-Jaccard join never touches
    non-candidate docs, and the candidate set is small by construction.
    The ``max_df`` cap counts a shingle's document frequency over the
    candidate documents, each once per side: a self-pair document that
    is ``doc_a`` of one pair and ``doc_b`` of another counts once, while
    the two sides of cross pairs count apart.

    The Jaccard is computed per candidate pair from per-doc
    pruned-shingle-set arrays (two keyed joins + one in-row
    ``array_intersect``), not by a posting-list self-join: that
    generates sum-over-shingles df^2/2 rows even over candidate docs
    only (with near-dup-dense fixtures the candidate docs ARE the
    corpus: measured 86,609 candidate pairs over 50k docs at sf1.0, ~7s
    in the pair blowup), while the pair path is O(|cands| x doc_len).
    The results are the self-join's: ``inter >= 1`` is its
    shares-at-least-one-shingle precondition, and the arrays are sets by
    construction (``_with_shingles`` explodes ``array_distinct``), so
    ``size(array_intersect)`` is the shared-shingle count.
    """
    # localCheckpoint(eager=True) materializes the candidates once for
    # their consumers AND lets the ContextCleaner drop the blocks
    # when the result DataFrame is garbage-collected — an explicit
    # persist() here leaked storage memory across calls in long-lived
    # sessions. Fault-tolerance caveat: locally-checkpointed blocks are
    # NOT recomputable after executor loss, so on a cluster with
    # executor decommissioning (dynamic allocation / spot nodes) prefer
    # reliable checkpointing (sparkContext.setCheckpointDir +
    # .checkpoint()) or persist(DISK_ONLY) here — the blocks are small
    # (candidate pairs only), so the reliability cost is negligible.
    cands = cands.localCheckpoint(eager=True)
    ids_a = cands.select(F.col("doc_a").alias("doc_id"))
    ids_b = cands.select(F.col("doc_b").alias("doc_id"))
    # semi-join the RAW docs down to candidates BEFORE shingling —
    # Catalyst cannot push a join below the explode, so semi-joining an
    # exploded shingle relation re-tokenizes the ENTIRE corpus; per-doc
    # shingles don't depend on other docs, so shingling the
    # candidate-only corpus is result-identical and tokenizes
    # O(candidates) docs instead of O(corpus). left_semi tolerates
    # duplicate keys on the right: no distinct needed.
    if docs_b is None:
        sh = _with_shingles(
            docs.join(ids_a.unionByName(ids_b), "doc_id", "left_semi"), n
        )
        sets_a = sets_b = _cap_df(sh, max_df).groupBy("doc_id").agg(
            F.collect_list("shingle").alias("ss")
        )
    else:
        sh = _with_shingles(
            docs.join(ids_a, "doc_id", "left_semi"), n
        ).withColumn("_b", F.lit(False)).unionByName(
            _with_shingles(docs_b.join(ids_b, "doc_id", "left_semi"), n)
            .withColumn("_b", F.lit(True))
        )
        sets = _cap_df(sh, max_df).groupBy("_b", "doc_id").agg(
            F.collect_list("shingle").alias("ss")
        )
        sets_a = sets.filter(~F.col("_b"))
        sets_b = sets.filter(F.col("_b"))
    sa = sets_a.select(
        F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa")
    )
    sb = sets_b.select(
        F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb")
    )
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).alias("inter"),
            F.size("sa").alias("size_a"),
            F.size("sb").alias("size_b"),
        )
        .filter(F.col("inter") >= 1)
        .withColumn("jaccard", _jaccard("size_a", "size_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "size_a", "size_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = MINHASH_N,
    num_hashes: int = MINHASH_HASHES,
    bands: int = MINHASH_BANDS,
    threshold: float = 0.05,
    max_df: int = SHINGLE_MAX_DF,
) -> DataFrame:
    """MinHash+LSH candidate generation + exact-Jaccard verification.

    rows-per-band = num_hashes / bands; docs sharing any band key become
    candidates; candidates are verified with true n-gram Jaccard
    (:func:`_verify_candidates`, on candidate documents only).
    Returns (doc_a, doc_b, jaccard) with jaccard >= threshold.
    """
    sig = _minhash_agg(_with_shingles(df, n), num_hashes)
    cands = _band_candidates(_explode_bands(sig, num_hashes, bands))
    return _verify_candidates(cands, df, n, threshold, max_df).select(
        "doc_a", "doc_b", "jaccard"
    )


def minhash_estimate_pairs(
    df: DataFrame,
    min_match: int = 1,
) -> DataFrame:
    """LSH candidate pairs scored by SIGNATURE AGREEMENT — matching
    components / 16 (``MINHASH_HASHES``) is the unbiased Jaccard estimator
    (P[component match] = J per MinHash element, Broder '97) and the
    verify path that stays CONSTANT-WIDTH at 100 TB: scoring a pair
    reads only the two k-component signatures (2*k*8 bytes, however
    long the documents), where ``minhash_lsh_pairs``' exact verify
    re-joins the candidate docs' full shingle sets. Trade: the
    estimate is quantized to 1/k with sd sqrt(J(1-J)/k) (k=16 ->
    +-0.12 at J=0.5) — use the exact verify when the downstream
    decision needs a tight threshold; gate on ``min_match`` components
    here (an integer, so the cut is engine-exact by construction).

    Returns (doc_a, doc_b, n_match, est_jaccard) for candidates with
    n_match >= min_match; est_jaccard = n_match/k rounds exactly
    (multiples of 1/16 are dyadic). Signatures are computed once and
    persisted in production (the FingerprintStore pattern — band keys
    AND signature components are both store-committable); since r6 the
    local stand-in matches: the signature relation is
    localCheckpointed once for its three consumers instead of being
    recomputed per consumer.
    """
    # r6: the signature relation feeds THREE consumers (banding + both
    # sides of the component compare) — checkpoint it so the corpus
    # shingle+md5 pass runs once, which is exactly the "signatures
    # would be computed once and persisted" production note below made
    # real (the relation is narrow: doc_id + k 8-char slices)
    sig = _minhash_agg(
        _with_shingles(df, MINHASH_N), MINHASH_HASHES
    ).localCheckpoint(eager=True)
    cands = _band_candidates(
        _explode_bands(sig, MINHASH_HASHES, MINHASH_BANDS)
    ).localCheckpoint(eager=True)  # cf. _verify_candidates
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(MINHASH_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(MINHASH_HASHES)],
    )
    n_match = None
    for i in range(MINHASH_HASHES):
        t = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        n_match = t if n_match is None else n_match + t
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", n_match.alias("n_match"))
        .filter(F.col("n_match") >= min_match)
        .select(
            "doc_a",
            "doc_b",
            "n_match",
            F.round(F.col("n_match") / F.lit(MINHASH_HASHES), 4).alias(
                "est_jaccard"
            ),
        )
    )


def line_dedup(df: DataFrame, max_df: int = 1) -> DataFrame:
    """Paragraph/line-level exact dedup — the C4 / RefinedWeb shape
    (Raffel et al. JMLR '20 §2.2; Penedo et al. '23 §4.2): a line whose
    trimmed form occurs in more than ``max_df`` distinct documents is
    boilerplate (nav text, cookie banners, copyright footers — the most
    common web-corpus contamination) and is removed from EVERY document
    it appears in; the per-document remainder is reassembled in original
    line order.

    Returns one row per input document (rows never dropped):
    (doc_id, text_clean, n_kept, n_dropped) — text_clean is '' when
    every line was boilerplate or the text had no non-empty lines.

    Scale shape — only line FINGERPRINTS shuffle, never line text:
    posexplode to a narrow (doc_id, pos, md5) stream -> distinct
    (doc, fp) -> one hash-agg for document frequency (map-side partial,
    uniform md5 keys) -> join back to find DROPPED positions only (the
    small side: boilerplate occurrences, not all lines) -> the
    drop-position lists join onto the original documents (AQE
    broadcasts them when small, so the corpus itself never reshuffles)
    -> text_clean is rebuilt IN-ROW from the original text with array
    expressions. The first cut shuffled every line's string through the
    frequency join and a collect_list reassembly — measured
    DRAM-bandwidth-bound on the 2->8 core pair (BENCH/scaling_ops.py);
    this formulation moves ~32 bytes per line plus the dropped lists.
    """
    df = _ensure_parallelism(df)
    lines = df.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line")
    ).select("doc_id", "pos", F.trim("line").alias("lnorm"))
    fp = lines.filter(F.col("lnorm") != "").select(
        "doc_id", "pos", F.md5("lnorm").alias("fp")
    )
    # document frequency WITHOUT a corpus-lines-sized distinct shuffle:
    # each doc's lines dedup IN-ROW (array_distinct) before the explode,
    # so the stream is already one row per (doc, distinct line) and the
    # only full-width exchange left is the fp count agg itself. The
    # previous distinct().groupBy() formulation shuffled the ~corpus
    # line count TWICE (distinct exchange + agg exchange) — measured as
    # the dominant non-scaling cost of the op at 2M docs (tmpfs shuffle
    # is DRAM traffic; see BENCH/scaling_ops.py).
    uniq_lines = df.select(
        F.explode(
            F.expr(
                "array_distinct(filter(transform(split(text, '\\n'), "
                "l -> trim(l)), l -> l != ''))"
            )
        ).alias("lnorm")
    )
    docfreq = (
        uniq_lines.select(F.md5("lnorm").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("line_df"))
    )
    # the line_df > max_df filter pushes below this join, so the build
    # side is only the (tiny) boilerplate fp set — AQE broadcasts it and
    # the positioned stream never shuffles; the dropped-position agg
    # then moves only boilerplate occurrences
    dropped = (
        fp.join(docfreq, "fp")
        .filter(F.col("line_df") > max_df)
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("drops"))
    )
    # in-row rebuild: positioned trimmed lines -> drop empties and
    # dropped positions -> join survivors in original order. Documents
    # with NO dropped lines (drops IS NULL — the overwhelming majority
    # in real corpora) take a FAST PATH that skips the positioned-struct
    # build and per-line array_contains probe entirely: trim, drop
    # empties, rejoin. Codegen's CaseWhen evaluates only the taken
    # branch per row, so boilerplate-free documents pay just the
    # split/trim/join floor.
    plain = (
        "filter(transform(split(text, '\\n'), l -> trim(l)), "
        "l -> l != '')"
    )
    nonempty = (
        "filter(transform(split(text, '\\n'), "
        "(l, i) -> struct(i AS pos, trim(l) AS lnorm)), "
        "s -> s.lnorm != '')"
    )
    kept = (
        f"filter({nonempty}, s -> NOT array_contains(drops, s.pos))"
    )
    no_drops = F.col("drops").isNull()
    return (
        df.join(dropped, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                no_drops, F.expr(f"array_join({plain}, '\\n')")
            )
            .otherwise(
                F.expr(
                    f"array_join(transform({kept}, s -> s.lnorm), '\\n')"
                )
            )
            .alias("text_clean"),
            F.when(no_drops, F.expr(f"size({plain})"))
            .otherwise(F.expr(f"size({kept})"))
            .cast("long")
            .alias("n_kept"),
            F.coalesce(F.size("drops"), F.lit(0))
            .cast("long")
            .alias("n_dropped"),
        )
    )


def intra_doc_dedup(
    df: DataFrame,
    whale_lines: int = 10_000,
) -> DataFrame:
    """Intra-document repeated-line removal — the WITHIN-page half of
    RefinedWeb's line dedup (Penedo et al. '23 §4.2; C4 keeps only the
    first occurrence of a repeated line inside one page: nav menus and
    footers duplicated by templating collapse to one copy). The
    corpus-level cross-document half is :func:`line_dedup`; this one
    needs no corpus state at all.

    Keeps the FIRST occurrence of every distinct line (exact match on
    the raw line, no trimming — trimming policy belongs to
    :func:`line_dedup` / C4 rules) and reassembles in original order.
    Returns (doc_id, text_clean, n_lines, n_dropped); rows are never
    dropped.

    Scale shape: a PURE MAP in both branches, zero shuffle, zero
    corpus state. Documents at or under ``whale_lines`` dedup via one
    higher-order-function expression per row (``filter`` with the
    positional lambda: keep line i iff its first-occurrence index is
    i) inside whole-stage codegen; that probe is O(lines^2) in the
    worst case — fine for pages of tens-to-hundreds of lines, but a
    single dumped log / minified blob with 10^6 lines would spin one
    task on ~10^12 comparisons. Line-heavier documents therefore
    route through an Arrow ``mapInPandas`` LINEAR set-probe fold
    (the ``pack_conversations`` whale discipline) — still map-only,
    still no exchange; path equality is pytest-pinned by forcing
    ``whale_lines=0``.
    """
    lines = F.split(F.col("text"), "\n")
    staged = _ensure_parallelism(df).withColumn("_lines", lines)
    kept = (
        "filter(_lines, (x, i) -> array_position(_lines, x) = i + 1)"
    )
    small = staged.filter(F.size("_lines") <= whale_lines).select(
        "doc_id",
        F.expr(f"array_join({kept}, '\\n')").alias("text_clean"),
        F.size("_lines").cast("long").alias("n_lines"),
        (F.size("_lines") - F.expr(f"size({kept})"))
        .cast("long")
        .alias("n_dropped"),
    )
    whales = staged.filter(F.size("_lines") > whale_lines).select(
        "doc_id", "text"
    )
    big = whales.mapInPandas(
        _dedup_lines_linear,
        "doc_id long, text_clean string, n_lines long, n_dropped long",
    )
    return small.unionByName(big)


def _dedup_lines_linear(batches):
    """Linear first-occurrence line dedup for line-whale documents
    (python set probe: O(lines), vs the in-row expression's
    O(lines^2) array_position scan)."""
    import pandas as pd

    for pdf in batches:
        out = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            doc_lines = text.split("\n")
            seen: set = set()
            kept = []
            for ln in doc_lines:
                if ln not in seen:
                    seen.add(ln)
                    kept.append(ln)
            out.append(
                (
                    doc_id,
                    "\n".join(kept),
                    len(doc_lines),
                    len(doc_lines) - len(kept),
                )
            )
        yield pd.DataFrame(
            out,
            columns=["doc_id", "text_clean", "n_lines", "n_dropped"],
        )


def dedup_weights(df: DataFrame) -> DataFrame:
    """Soft dedup (SoftDeDup, He et al. '24): instead of DROPPING
    duplicates, every member of an exact-duplicate cluster gets
    sampling weight 1/|cluster| — the corpus keeps its diversity
    while repeated content contributes one document's worth of
    expected training mass (feed the weight to
    :func:`ocr_spark.operators.textops.weighted_sample` or a
    loss-weighting loader). Clusters are the ws/case-canonical md5
    fingerprint groups ``exact_dedup`` uses, so the two policies are
    interchangeable on the same corpus.

    Emits every row: (doc_id, fingerprint, n_dups, weight). One
    fingerprint-keyed exchange (uniform md5 keys, map-side partial
    counts); no text shuffles — the window input projects to
    (doc_id, fp) before the exchange.
    """
    from pyspark.sql import Window

    d = with_fingerprint(df).select("doc_id", "fingerprint")
    n = F.count(F.lit(1)).over(Window.partitionBy("fingerprint"))
    return d.select(
        "doc_id",
        "fingerprint",
        n.cast("long").alias("n_dups"),
        # float32 cast, not round(6): both engines compute the same
        # IEEE double, and the cast is bit-exact where decimal
        # rounding can diverge on ties (CLAUDE.md float policy)
        (F.lit(1.0) / n).cast("float").alias("weight"),
    )


def substring_dedup(
    df: DataFrame,
    min_len: int = 50,
    min_df: int = 2,
    keep_first: bool = False,
) -> DataFrame:
    """Exact substring deduplication (Lee et al. '21, "Deduplicating
    Training Data Makes Language Models Better", ExactSubstr): remove
    every verbatim token span of length >= ``min_len`` that occurs in
    >= ``min_df`` DISTINCT documents. The middle granularity between
    whole-document near-dup (``minhash_lsh_pairs``) and single-line
    boilerplate (``line_dedup``) — production pipelines run all three.

    Returns one row per input document (rows never dropped):
    (doc_id, text_clean, n_kept, n_dropped) — text_clean is the kept
    tokens rejoined with single spaces, in original order.

    Semantics: a shared span of length M >= min_len is exactly a run of
    shared ``min_len``-gram start positions, so flagging every start
    whose L-gram has document frequency >= min_df and dropping the
    union of [start, start+L) covers every shared span of ANY length
    >= L with no false positives. Two policies:

    - ``keep_first=False`` (default): the span is removed from EVERY
      document — the same remove-everywhere policy as ``line_dedup``.
    - ``keep_first=True``: Lee et al.'s keep-one semantics via a
      deterministic per-gram canonical occurrence — the lexicographic
      min (doc_id, pos) of each duplicated gram survives, every other
      occurrence drops. For whole shared spans the canonical picks of
      all the span's grams coincide (same min doc, consecutive
      positions), so exactly one document keeps the span. Caveat
      (documented, deterministic): if the canonical DOC itself has a
      different duplicated span overlapping this one, the overlap
      region can still drop there — span-level "one occurrence" is
      only gram-wise well-defined under partial overlaps.

    Scale shape — NO pairwise join anywhere (unlike the Jaccard family
    this op never compares documents to each other): positioned L-gram
    md5s -> distinct (doc, gram) -> one hash-agg for document frequency
    (uniform md5 keys, map-side partials) -> join back to find
    duplicated START positions only (the small side: duplicated spans,
    not all grams) -> per-doc start lists join onto the corpus (AQE
    broadcasts when small) -> overlapping [p, p+L) runs are merged
    IN-ROW into disjoint intervals (sorted fold, the line_dedup rebuild
    pattern) and tokens are filtered against the merged intervals. The
    one honest tax vs a suffix array is the gram hashing: md5 over each
    L-token window is O(tokens x L) bytes hashed — embarrassingly
    parallel map work with zero extra shuffle, and the only exact
    formulation that stays engine-portable (the DuckDB oracle mirrors
    it bit-for-bit). Suffix-array construction, by contrast, is not
    expressible as a Catalyst plan at all.
    """
    base = _ensure_parallelism(df).select(
        "doc_id",
        F.when(F.trim("text") == "", F.array().cast("array<string>"))
        .otherwise(F.split(F.trim("text"), r"\s+"))
        .alias("t"),
    )
    grams = base.filter(F.size("t") >= min_len).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(t) - {min_len} + 1), "
                f"i -> md5(concat_ws(' ', slice(t, i, {min_len}))))"
            )
        ).alias("pos0", "gh"),
    )
    dup_gh = (
        grams.select("doc_id", "gh")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("g_df"))
        .filter(F.col("g_df") >= min_df)
        .select("gh")
    )
    occ = grams.join(dup_gh, "gh")
    if keep_first:
        # canonical occurrence per gram: lexicographic min (doc, pos)
        # via a struct min — one hash-agg over the (small) duplicated-
        # occurrence relation, no window sort
        canon = occ.groupBy("gh").agg(
            F.min(F.struct("doc_id", "pos0")).alias("c")
        )
        occ = occ.join(canon, "gh").filter(
            ~(
                (F.col("doc_id") == F.col("c.doc_id"))
                & (F.col("pos0") == F.col("c.pos0"))
            )
        )
    starts = (
        occ.groupBy("doc_id")
        .agg(F.collect_list("pos0").alias("starts"))
    )
    # in-row rebuild: sorted duplicate starts fold into disjoint
    # [s, e) intervals (each raw run is exactly min_len long, so the
    # merged end is always the latest p + L), then tokens keep iff no
    # interval covers their position
    ivs = (
        f"aggregate(array_sort(coalesce(starts, array())), "
        f"CAST(array() AS ARRAY<STRUCT<s:INT, e:INT>>), "
        f"(acc, p) -> IF(size(acc) = 0 OR p > element_at(acc, -1).e, "
        f"concat(acc, array(struct(p AS s, p + {min_len} AS e))), "
        f"concat(slice(acc, 1, size(acc) - 1), "
        f"array(struct(element_at(acc, -1).s AS s, "
        f"p + {min_len} AS e)))))"
    )
    kept = (
        "filter(transform(t, (tok, i) -> struct(i AS i, tok AS tok)), "
        "x -> NOT exists(ivs, v -> x.i >= v.s AND x.i < v.e))"
    )
    return (
        base.join(starts, "doc_id", "left")
        .withColumn("ivs", F.expr(ivs))
        .select(
            "doc_id",
            F.expr(
                f"array_join(transform({kept}, x -> x.tok), ' ')"
            ).alias("text_clean"),
            F.expr(f"size({kept})").cast("long").alias("n_kept"),
            F.expr(f"size(t) - size({kept})")
            .cast("long")
            .alias("n_dropped"),
        )
    )


def contamination_report(
    df: DataFrame, benchmark: DataFrame, n: int = 13
) -> DataFrame:
    """Per-eval-document contamination coverage — the operational
    report run alongside :func:`decontaminate`: for each benchmark
    document, how many of its distinct word ``n``-grams occur anywhere
    in the corpus, and the coverage fraction. 1.0 = the eval doc leaks
    verbatim; mid values = partial/near-duplicate leakage; ~0 = clean.
    (GPT-3 appendix C reports exactly this per-benchmark "dirtiness"
    table before deciding what to drop.)

    Returns (bench_id, grams_total, grams_hit, coverage) — counts are
    over DISTINCT grams per eval doc (mirrors the dedup-family shingle
    convention); eval docs with fewer than ``n`` tokens have no grams
    and are absent, like every shingle op here.

    Scale shape: the corpus-side gram stream is SEMI-JOINED to the
    tiny benchmark gram vocabulary BEFORE any distinct, so the only
    corpus-sized work is the map-side explode (AQE broadcasts the
    vocabulary); the distinct and the per-eval-doc counts then run on
    eval-vocabulary-sized data. Never a corpus-wide distinct.
    """
    bench_sh = _with_shingles(
        benchmark.select(F.col("bench_id").alias("doc_id"), "text"), n
    ).select(F.col("doc_id").alias("bench_id"), "shingle")
    vocab = bench_sh.select("shingle").distinct()
    present = (
        _with_shingles(df, n)
        .select("shingle")
        .join(vocab, "shingle", "left_semi")
        .distinct()
        .withColumn("present", F.lit(True))
    )
    return (
        bench_sh.join(present, "shingle", "left")
        .groupBy("bench_id")
        .agg(
            F.count(F.lit(1)).alias("grams_total"),
            F.count("present").alias("grams_hit"),
        )
        .select(
            "bench_id",
            "grams_total",
            "grams_hit",
            (
                F.col("grams_hit").cast("double")
                / F.col("grams_total").cast("double")
            )
            .cast("float")
            .alias("coverage"),
        )
    )


def _flag_ids(ids: DataFrame, hits: DataFrame, flag: str) -> DataFrame:
    """(doc_id, ``flag``) for every row of ``ids``: True when its doc_id
    is among ``hits``' doc_ids, False otherwise."""
    flagged = hits.select("doc_id").distinct().withColumn(flag, F.lit(True))
    return ids.join(flagged, "doc_id", "left").select(
        "doc_id", F.coalesce(flag, F.lit(False)).alias(flag)
    )


def decontaminate(
    df: DataFrame, benchmark: DataFrame, n: int = 13
) -> DataFrame:
    """Benchmark decontamination: flag every corpus document sharing any
    word ``n``-gram with an evaluation-set table (the GPT-3 appendix-C /
    Gopher 13-gram overlap filter — Brown et al. '20, Rae et al. '21).
    Run before training so eval answers are not memorized from the
    corpus.

    ``benchmark`` needs (bench_id, text). Returns one row per corpus
    document: (doc_id, contaminated) — filter on it or anti-join to
    materialize the clean corpus.

    Scale shape: both sides explode to distinct shingles; the benchmark
    side is distinct-deduped to vocabulary size (eval sets are tiny
    relative to the corpus — typically < 1M shingles, so AQE broadcasts
    it); contamination is a left_semi join on the shingle key — never a
    cartesian product, never a full corpus self-join.
    """
    doc_sh = _with_shingles(df, n)
    bench_sh = (
        _with_shingles(
            benchmark.select(
                F.col("bench_id").alias("doc_id"), "text"
            ),
            n,
        )
        .select("shingle")
        .distinct()
    )
    return _flag_ids(
        df.select("doc_id"),
        doc_sh.join(bench_sh, "shingle", "left_semi"),
        "contaminated",
    )


def decontaminate_fuzzy(
    df: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.3,
) -> DataFrame:
    """FUZZY benchmark decontamination: flag corpus documents whose
    n-gram Jaccard against ANY eval-set document reaches ``threshold``
    — the near-duplicate-overlap filter (Llama 2 / Gopher-style fuzzy
    decontamination) that catches paraphrased or token-mutated
    contamination the exact 13-gram filter (:func:`decontaminate`)
    misses: mutate every ~8th token of a leaked eval answer and no
    13-gram survives intact, while 3-gram Jaccard barely moves.

    Same output contract as :func:`decontaminate`: one row per corpus
    document, (doc_id, contaminated).

    Plan shape: MinHash band keys on BOTH sides (the eval set is tiny —
    its band-key table broadcasts), candidates from the band join,
    exact cross-relation Jaccard on candidate docs only — the
    :func:`incremental_minhash_verified` bipartite discipline with the
    eval set playing the committed corpus. The full corpus is touched
    exactly once (signature pass); verification explodes shingles only
    for docs that banded with an eval doc.

    Recall envelope is MinHash's: a contaminated doc is found iff it
    shares >= 1 of the b = 8 band keys — P ~ 1-(1-J^r)^b with
    r = 16/8 = 2 rows per band. For high-overlap leaks (J >= 0.5) that
    is > 0.9; lower thresholds need more bands, which
    ``MINHASH_BANDS`` sets for the whole family. The exact filter
    remains the complement for verbatim short spans.
    """
    bench = benchmark.select(F.col("bench_id").alias("doc_id"), "text")
    hits = incremental_minhash_verified(
        df,
        band_keys(bench),
        bench,
        threshold=threshold,
    )
    return _flag_ids(df.select("doc_id"), hits, "contaminated")


def _simhash_votes(df: DataFrame, bits: int) -> DataFrame:
    """Per-document SimHash bit votes (doc_id, s0..s{bits-1}).

    bit_j of md5's first ``bits/4`` hex digits votes +1/-1 per distinct
    word token; one explode + one groupBy(doc_id) aggregation (map-side
    partial), all built-in expressions.
    """
    ndigits = bits // 4
    toks = _ensure_parallelism(df).select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim("text"), r"\s+"))
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    hexed = toks.withColumn("hx", F.substring(F.md5("tok"), 1, ndigits))
    # per-token bit vector: bit j (0-based, LSB of digit d at j=4*d)
    bit_exprs = []
    for j in range(bits):
        d = j // 4
        shift = j % 4
        digit_val = (
            f"(instr('0123456789abcdef', substring(hx, {d + 1}, 1)) - 1)"
        )
        bit_exprs.append(
            f"CASE WHEN (shiftright({digit_val}, {shift}) & 1) = 1 "
            f"THEN 1 ELSE -1 END AS b{j}"
        )
    voted = hexed.selectExpr("doc_id", *bit_exprs)
    return voted.groupBy("doc_id").agg(
        *[F.sum(f"b{j}").alias(f"s{j}") for j in range(bits)]
    )


def connected_components(
    pairs: DataFrame, max_iters: int = 20
) -> DataFrame:
    """Min-label connected components over an undirected pair relation
    (doc_a, doc_b). Returns (doc_id, group_id) where group_id is the
    minimum doc_id of the node's component.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014). Each round
    rewrites the edge list (hi, lo), hi > lo, so that every component
    stays connected, until each component is a star around its
    minimum node:

    - large-star: each edge (hi, lo) becomes (hi, m), m the minimum of
      lo's closed neighbourhood;
    - small-star: each node hi and its other lower neighbours link to
      the least of those neighbours.

    Each step is a groupBy-min plus a join over the edge list, and
    neither step adds edges. No neighbourhood is ever collected into
    one row, so a giant component costs its edge count, not one task's
    memory. The paper bounds the rounds by O(log^2 n). In practice they
    track log n: a 10^4-node path with shuffled ids converges in 11
    rounds. Every step localCheckpoints to truncate lineage. The
    checkpoints carry their plans' size estimates forward; here these
    grow by a constant factor per round (each join is the edge list
    against a per-node aggregate of itself), so a longer budget stays
    cheap to plan. The loop stops once the edge list is a star forest
    (no node has two parents, no parent has a parent), and
    NON-convergence raises rather than returning truncated groups.
    """
    nodes = pairs.select(F.col("doc_a").alias("doc_id")).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("hi"),
            F.least("doc_a", "doc_b").alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    bad = -1
    for _ in range(max_iters):
        nbrs = edges.select(
            F.col("lo").alias("u"), F.col("hi").alias("v")
        ).unionByName(
            edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        closed_min = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        edges = (
            edges.join(closed_min.withColumnRenamed("u", "lo"), "lo")
            .select("hi", F.col("m").alias("lo"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        low_min = edges.groupBy("hi").agg(F.min("lo").alias("m"))
        edges = (
            edges.join(low_min, "hi")
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .unionByName(low_min.select("hi", F.col("m").alias("lo")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        roles = edges.select(
            F.col("hi").alias("x"),
            F.lit(1).alias("up"),
            F.lit(0).alias("down"),
        ).unionByName(
            edges.select(
                F.col("lo").alias("x"),
                F.lit(0).alias("up"),
                F.lit(1).alias("down"),
            )
        )
        bad = (
            roles.groupBy("x")
            .agg(F.sum("up").alias("up"), F.max("down").alias("down"))
            .filter(
                (F.col("up") > 1) | ((F.col("up") > 0) & (F.col("down") > 0))
            )
            .count()
        )
        if bad == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            f"rounds ({bad} nodes not yet in a star); raise max_iters"
        )
    # star forest: every non-root is an edge's hi; roots label themselves
    roots = nodes.join(
        edges.select(F.col("hi").alias("doc_id")), "doc_id", "left_anti"
    ).distinct()
    return (
        edges.select(
            F.col("hi").alias("doc_id"), F.col("lo").alias("group_id")
        )
        .unionByName(
            roots.select("doc_id", F.col("doc_id").alias("group_id"))
        )
        .localCheckpoint(eager=True)
    )


def near_dup_groups(
    df: DataFrame,
    n: int = MINHASH_N,
    num_hashes: int = MINHASH_HASHES,
    bands: int = MINHASH_BANDS,
    threshold: float = 0.05,
    max_df: int = SHINGLE_MAX_DF,
) -> DataFrame:
    """Connected components over the MinHash+LSH near-dup pair graph:
    every document that appears in a verified pair gets a ``group_id`` =
    the minimum doc_id of its component (the canonical survivor — the
    dedup-groups materialization a curation pipeline keeps).

    The edge list is LSH-verified pairs — SMALL by the LSH premise —
    so the iterative part runs on a relation orders of magnitude
    smaller than the corpus. See ``connected_components`` for the
    large-star / small-star loop.
    """
    pairs = minhash_lsh_pairs(
        df, n=n, num_hashes=num_hashes, bands=bands,
        threshold=threshold, max_df=max_df,
    )
    return connected_components(pairs)


def simhash(df: DataFrame) -> DataFrame:
    """SimHash fingerprint over word tokens (md5 bit sampling;
    Charikar, "Similarity estimation techniques from rounding
    algorithms", STOC 2002 — the near-dup variant per Manku/Jain/Sarma,
    WWW 2007).

    The fingerprint sets bit_j (j < 16) where the vote is positive
    and packs into a non-negative long (use ``simhash_hamming_pairs``,
    which works band-wise and never packs, for 64-bit near-dup
    detection).
    """
    agg = _simhash_votes(df, 16)
    return agg.select(
        "doc_id",
        sum(
            (F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)))
            for j in range(16)
        ).cast("long").alias("simhash"),
    )


def simhash_hamming_pairs(
    df: DataFrame,
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """64-bit SimHash near-duplicate pairs via the banded-Hamming bucket
    join (Manku/Jain/Sarma, "Detecting near-duplicates for web
    crawling", WWW 2007 — the 4-band pigeonhole trick).

    Any pair with Hamming distance <= ``max_hamming`` over ``bits`` bits
    must agree EXACTLY on at least one of ``bands`` equal-width bands
    (pigeonhole, requires ``max_hamming`` < ``bands``), so candidates
    are found with a per-band equality join — never an all-pairs scan —
    and verified with the full Hamming distance on candidates only.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b,
    hamming <= max_hamming. Scale shape: one vote aggregation, one
    band-bucket self-join on (band, value), distinct; band values are
    16-bit ints so the fingerprint never touches long sign bits.

    Skew note: candidate volume is quadratic IN EACH BUCKET. On
    low-entropy corpora (heavily templated text) a 16-bit band value can
    collect thousands of docs, and the pigeonhole guarantee forces all
    of those pairs through verification — exactness demands it. The
    lever at scale is to raise ``bits`` so bands are wider (e.g. 96/4 →
    24-bit bands, 256x the value space; md5 supplies up to 128 bits) at
    a stricter relative threshold. A bucket's doc-pair expansion is
    already cut into 1024-blocks (below), so one hot bucket cannot
    serialize one task.
    """
    if bits % bands:
        raise ValueError("bits must divide evenly into bands")
    if max_hamming >= bands:
        raise ValueError(
            "max_hamming must be < bands for the pigeonhole guarantee"
        )
    w = bits // bands
    votes = _simhash_votes(df, bits)
    band_cols = [
        sum(
            (
                F.when(F.col(f"s{b * w + i}") > 0, F.lit(1 << i)).otherwise(
                    F.lit(0)
                )
            )
            for i in range(w)
        ).cast("int").alias(f"band{b}")
        for b in range(bands)
    ]
    wide = votes.select("doc_id", *band_cols)
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"), F.col(f"band{b}").alias("val")
            )
            for b in range(bands)
        ]
    )
    ham = sum(
        F.expr(f"bit_count(a.band{i} ^ b.band{i})") for i in range(bands)
    ).cast("int")
    # r6: FINGERPRINT-GROUP candidate join. The doc-level bucket
    # self-join is quadratic in bucket population — measured at sf1.0
    # the largest band bucket holds 16,242 of 50k docs, sum-over-
    # buckets |b|^2 = 481M pair rows generated inside ONE sort-merge
    # key (a single task, ~13s; guide §2.5's unsplittable hot key),
    # and 39.6M surviving rows then paid a full distinct shuffle.
    # Templated corpora collapse hard at the fingerprint level (33,123
    # distinct 4-band fingerprints for those 50k docs; fp-level
    # sum |b|^2 = 49M, 10x less), so:
    #   1. group docs by their full fingerprint (sorted doc_id list);
    #   2. bucket-join DISTINCT fingerprints; dedup multi-band matches
    #      with a first-shared-band predicate (both sides carry every
    #      band, so "this row's band is the smallest index on which
    #      the two fingerprints agree" keeps EXACTLY one row per fp
    #      pair — no doc-pair distinct shuffle at all);
    #   3. expand the surviving fp pairs to doc pairs: cross pairs for
    #     distinct fps (least/greatest ordering), in-group i<j
    #      combinations at hamming 0 for same-fp docs. Each unordered
    #      doc pair arises from exactly one fp pair, so the expansion
    #      IS distinct by construction.
    # Output rows identical to the doc-level join + distinct: same
    # pair set (pigeonhole at fp level is the doc-level condition),
    # same hamming values, same (doc_a < doc_b) orientation.
    grp = wide.groupBy(*[f"band{b}" for b in range(bands)]).agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    fpb = grp.select(
        *[f"band{b}" for b in range(bands)],
        "ids",
        F.explode(entries).alias("e"),
    ).select(
        *[f"band{b}" for b in range(bands)],
        "ids",
        F.col("e.band").alias("band"),
        F.col("e.val").alias("val"),
    )
    a = fpb.alias("a")
    b = fpb.alias("b")
    first_shared = F.coalesce(
        *[
            F.when(F.col(f"a.band{i}") == F.col(f"b.band{i}"), F.lit(i))
            for i in range(bands)
        ]
    )
    fp_lt = F.struct(
        *[F.col(f"a.band{i}") for i in range(bands)]
    ) < F.struct(*[F.col(f"b.band{i}") for i in range(bands)])
    fp_pairs = (
        a.join(b, ["band", "val"])
        .filter(fp_lt & (F.col("band") == first_shared))
        .select(
            F.col("a.ids").alias("ia"),
            F.col("b.ids").alias("ib"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    cross = (
        fp_pairs.select(
            F.explode("ia").alias("x"), "ib", "hamming"
        )
        .select("x", F.explode("ib").alias("y"), "hamming")
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            "hamming",
        )
    )
    # within-group expansion in BLOCKS (r6 review finding): a direct
    # double-posexplode of one group's ids regenerates |g|^2 rows from
    # a single row in a single task — for an exact-duplicate-heavy
    # corpus (one fp shared by 10^5 docs) that is the same
    # unsplittable single-task blowup the fp-group join removed. Cut
    # the sorted ids into _WBLK-slices, explode the (p <= q) block
    # pairs, round-robin repartition those small rows, and expand each
    # block pair independently: same pair multiset (p < q crosses all,
    # p == q keeps i < j; ids sorted so doc_a < doc_b), but no task
    # expands more than _WBLK^2 pairs.
    _WBLK = 1024
    nb1 = ((F.size("ids") - 1) / _WBLK).cast("int")  # last block index
    w2 = (
        grp.filter(F.size("ids") >= 2)
        .select(
            "ids", F.explode(F.sequence(F.lit(0), nb1)).alias("_p")
        )
        .select(
            "ids",
            "_p",
            F.explode(
                F.sequence(F.col("_p"), ((F.size("ids") - 1) / _WBLK).cast("int"))
            ).alias("_q"),
        )
        .select(
            F.slice("ids", F.col("_p") * _WBLK + 1, _WBLK).alias("ap"),
            F.slice("ids", F.col("_q") * _WBLK + 1, _WBLK).alias("aq"),
            (F.col("_p") < F.col("_q")).alias("_cb"),
        )
    )
    within = (
        w2.repartition(
            wide.sparkSession.sparkContext.defaultParallelism
        )
        .select(F.posexplode("ap").alias("i", "doc_a"), "aq", "_cb")
        .select(
            "i", "doc_a", "_cb", F.posexplode("aq").alias("j", "doc_b")
        )
        .filter(F.col("_cb") | (F.col("i") < F.col("j")))
        .select(
            "doc_a", "doc_b", F.lit(0).cast("int").alias("hamming")
        )
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# Incremental (cross-run) dedup — dedup a new ingest against the
# COMMITTED corpus, not just within one DataFrame. Real pipelines
# ingest dump-by-dump (RefinedWeb dedups each CommonCrawl snapshot
# against everything already kept, Penedo et al. '23 §3.3); the store
# holds exact content fingerprints and MinHash LSH band keys — never
# text — so the committed state is a few dozen bytes per kept doc.
# ---------------------------------------------------------------------------


class FingerprintStore:
    """Committed-corpus fingerprint store, laid out like the warehouse
    lineage protocol (``io.Warehouse``): one parquet directory per
    store family, partition-per-run —

    - ``<root>/exact/run_id=<R>/`` rows (fingerprint, keep_id)
    - ``<root>/bands/run_id=<R>/`` rows (band, band_key, doc_id)

    A run COMMITS by overwriting its own partition, so re-ingesting the
    same run is idempotent (same deterministic content, no duplicate
    accumulation — the resume pytest pins this); distinct runs append
    side by side and readers union all partitions. At 10^12-turn scale
    both relations are uniform-keyed and partition-pruned by run_id;
    the exact store is ~48 B/doc, the band store ~bands x 40 B/doc.
    """

    def __init__(self, root: str) -> None:
        from pathlib import Path

        self.root = Path(root)
        self.exact_dir = self.root / "exact"
        self.bands_dir = self.root / "bands"

    @staticmethod
    def _read(spark, d, schema: str) -> DataFrame:
        if not d.exists():
            return spark.createDataFrame([], schema)
        return (
            spark.read.option("basePath", str(d)).parquet(str(d))
        )

    @staticmethod
    def _exclude(df: DataFrame, exclude_run: str | None) -> DataFrame:
        # re-ingesting a run deduplicates against every run EXCEPT
        # itself: its own partition is exactly what the re-ingest
        # rewrites (the warehouse resume convention), which is what
        # makes commit_*(..., run_id) idempotent under replay
        if exclude_run is None:
            return df
        return df.filter(F.col("run_id") != exclude_run)

    def committed_fingerprints(
        self, spark, exclude_run: str | None = None
    ) -> DataFrame:
        """(fingerprint, keep_id, run_id) across committed runs."""
        return self._exclude(
            self._read(
                spark, self.exact_dir,
                "fingerprint string, keep_id long, run_id string",
            ),
            exclude_run,
        )

    def fresh(self, df: DataFrame, exclude_run: str | None) -> DataFrame:
        """``with_fingerprint(df)`` rows whose fingerprint no committed
        run (other than ``exclude_run``) holds — a left_anti join on the
        store, ``fingerprint`` kept for the caller's later commit."""
        committed = self.committed_fingerprints(
            df.sparkSession, exclude_run=exclude_run
        ).select("fingerprint")
        return with_fingerprint(df).join(committed, "fingerprint", "left_anti")

    def committed_band_keys(
        self, spark, exclude_run: str | None = None
    ) -> DataFrame:
        """(doc_id, band, band_key, run_id) across committed runs."""
        return self._exclude(
            self._read(
                spark, self.bands_dir,
                "doc_id long, band int, band_key string, run_id string",
            ),
            exclude_run,
        )

    def commit_exact(self, survivors: DataFrame, run_id: str) -> None:
        """Persist an increment's surviving (fingerprint, keep_id) rows
        under this run's partition (mode=overwrite: idempotent)."""
        survivors.select("fingerprint", "keep_id").write.mode(
            "overwrite"
        ).parquet(str(self.exact_dir / f"run_id={run_id}"))

    def commit_bands(self, bands_df: DataFrame, run_id: str) -> None:
        """Persist an increment's (doc_id, band, band_key) rows under
        this run's partition (mode=overwrite: idempotent)."""
        bands_df.select("doc_id", "band", "band_key").write.mode(
            "overwrite"
        ).parquet(str(self.bands_dir / f"run_id={run_id}"))


def _bloom_bit(bloom_bits: int) -> tuple[str, str]:
    """SQL (word, mask) of a fingerprint's bit in an m-bit bitmap."""
    m = int(bloom_bits)
    # bit index 0..m-1; word = bit div 64; mask = 1 << (bit % 64)
    # (SQL shiftleft: the pyspark wrapper only takes literal shifts)
    word = f"CAST(pmod(xxhash64(fingerprint), {m}) / 64 AS BIGINT)"
    mask = (
        "shiftleft(CAST(1 AS BIGINT), "
        f"CAST(pmod(xxhash64(fingerprint), {m}) % 64 AS INT))"
    )
    return word, mask


def bloom_bitmap(
    committed_fps: DataFrame, bloom_bits: int
) -> DataFrame:
    """The k=1 Bloom bitmap over committed fingerprints as an
    (word, bits) table — build this ONCE at store-commit time and
    persist it next to the fingerprint partitions; rebuilding per
    increment costs a full store pass that measured 3x the entire
    plain anti-join at 5M committed / 2M increment
    (BENCH/soak_bloom.py). m/64 rows, ~16 bytes each."""
    word, mask = _bloom_bit(bloom_bits)
    return (
        committed_fps.select(
            F.expr(word).alias("word"), F.expr(mask).alias("mask")
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def incremental_exact_dedup(
    increment: DataFrame,
    committed_fps: DataFrame,
    bloom_bits: int | None = None,
    bitmap: DataFrame | None = None,
) -> DataFrame:
    """Two-phase exact dedup of an ingest increment against the
    committed corpus:

    1. rows whose canonical content fingerprint is already committed
       drop via a ``left_anti`` join on the fingerprint (uniform
       md5 keys — the ``resume_anti_join`` shape at content
       granularity; AQE broadcasts the store side while it is small,
       shuffle-hash once it is not),
    2. the remainder exact-dedups WITHIN the increment (min-id
       survivor, one hash-agg — the ``exact_dedup`` plan).

    Returns (fingerprint, keep_id, n_dups): exactly the rows to append
    to the store on commit. n_dups counts increment-internal copies;
    already-committed content contributes no row at all.

    ``bloom_bits`` (bitmap size m, use a power of two ~10-30x the
    committed cardinality) turns on a single-probe bitmap PREFILTER
    for the anti-join — a k=1 Bloom filter built from pure DataFrame
    ops (Spark's ``bloom_filter_agg`` is not a public function): the
    committed fingerprints hash to one bit each (``pmod(xxhash64, m)``),
    the bits pack into an m/64-row (word, bits) table via one
    ``bit_or`` hash-agg, and the increment probes it through a
    BROADCAST left join — no explode, one map-side probe per row. A
    row whose bit is unset is DEFINITELY fresh and bypasses the
    anti-join entirely; only bit-set suspects (true dups + ~n/m false
    positives) shuffle into the ``left_anti``. EXACTNESS IS UNCHANGED
    for any bitmap contents: the bitmap only routes rows, the
    anti-join still decides.

    Measured economics (BENCH/soak_bloom.py, 5M committed / 2M
    increment, m=2^27, local[32]): fpp 3.66% == the n/m theory; with a
    PREBUILT bitmap the probe path is at parity with the plain
    anti-join (4.8s vs 5.0s — locally the anti-join is sort-bound, not
    shuffle-bound, so there is nothing to save); building the bitmap
    inline costs a full store pass (3x the whole op here). So: pass
    ``bitmap=`` prebuilt via :func:`bloom_bitmap` at store-commit time
    and amortize it across increments — the bypass only pays off in
    the cluster regime where the increment side's anti-join SHUFFLE
    dominates (TB increments, 10^9-row store, m=2^34 = 2 GB -> fpp
    ~6%; k=1 costs ~5x the bits of an optimal-k Bloom at equal fpp
    but keeps the probe one broadcast join).
    """
    inc = with_fingerprint(_ensure_parallelism(increment))
    store = committed_fps.select("fingerprint")
    if bloom_bits:
        word, mask = _bloom_bit(bloom_bits)
        if bitmap is None:
            bitmap = bloom_bitmap(store, bloom_bits)
        probed = inc.withColumn("_w", F.expr(word)).withColumn(
            "_m", F.expr(mask)
        ).join(
            F.broadcast(bitmap),
            F.col("_w") == F.col("word"),
            "left",
        )
        suspect = F.col("bits").isNotNull() & (
            F.col("bits").bitwiseAND(F.col("_m")) != 0
        )
        aux = ("_w", "_m", "word", "bits")
        fresh = (
            probed.filter(suspect)
            .drop(*aux)
            .join(store, "fingerprint", "left_anti")
            .unionByName(probed.filter(~suspect).drop(*aux))
        )
    else:
        fresh = inc.join(store, "fingerprint", "left_anti")
    return fresh.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def incremental_minhash_flags(
    increment: DataFrame,
    committed_bands: DataFrame,
) -> DataFrame:
    """Near-dup screening of an increment against the committed corpus
    via the MinHash band-key store: an increment doc sharing ANY
    (band, band_key) with a committed doc is flagged as a candidate
    near-duplicate of already-kept content.

    Returns (doc_id, near_dup_committed). Policy: this is CANDIDATE
    semantics — the committed store keeps band keys, not shingles, so
    no exact-Jaccard verification against committed text is possible
    (that is the point: the store stays tiny). Band collisions at
    16 hashes / 8 bands are ~P(jaccard)^2-per-band sensitive with
    false-candidate odds ~pairs/2^64 per band from raw md5 collisions —
    negligible; a deployment wanting verified incremental near-dup
    keeps the committed documents too and verifies the candidates with
    :func:`incremental_minhash_verified` (documented trade-off, same
    operators).

    Plan: signature + banding on the increment only, then one
    ``left_semi`` against the store keyed by (band, band_key) —
    uniform keys, partition-prunable by run, never a pairwise join.
    """
    bk = band_keys(increment)
    hits = bk.join(
        committed_bands.select("band", "band_key"),
        ["band", "band_key"],
        "left_semi",
    )
    return _flag_ids(
        increment.select("doc_id").distinct(), hits, "near_dup_committed"
    )


def incremental_minhash_verified(
    increment: DataFrame,
    committed_bands: DataFrame,
    committed_docs: DataFrame,
    threshold: float = 0.05,
    max_df: int = SHINGLE_MAX_DF,
) -> DataFrame:
    """VERIFIED incremental near-dup: the
    :func:`incremental_minhash_flags` band candidates, then exact
    CROSS-CORPUS n-gram Jaccard computed on candidate documents only —
    the trade-off the flags variant documents, made concrete:
    ``committed_bands`` comes from the tiny band-key store, and
    ``committed_docs`` is the kept corpus itself (doc_id, text) read
    back from the warehouse — at scale the verify stage touches ONLY
    candidate committed docs (the cross-pair form of
    :func:`_verify_candidates`, the verify step of
    :func:`minhash_lsh_pairs`).

    Returns (doc_id, committed_id, jaccard) with jaccard >= threshold
    — increment docs to drop (or route to keep-best) before commit.
    The join is bipartite (increment vs committed), so ids may overlap
    numerically across runs without ambiguity; shingles with combined
    document frequency > ``max_df`` over the candidate docs of both
    sides are pruned (mirrored in the oracle).
    """
    bk_inc = band_keys(increment)
    cands = (
        bk_inc.join(
            committed_bands.select(
                F.col("doc_id").alias("doc_b"), "band", "band_key"
            ),
            ["band", "band_key"],
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    return _verify_candidates(
        cands, increment, MINHASH_N, threshold, max_df, docs_b=committed_docs
    ).select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("committed_id"),
        "jaccard",
    )


def near_dup_keep_best(
    docs: DataFrame,
    quality_col: str = "quality",
) -> DataFrame:
    """Near-duplicate resolution with a keep-BEST policy — the
    production curation rule (cf. Dolma, Soldaini et al. '24
    arXiv:2402.00159; RefinedWeb keeps one member per fuzzy-dup
    cluster): connected components over the verified MinHash+LSH pair
    graph define the duplicate clusters, and within each cluster the
    survivor is the highest-``quality_col`` member (ties -> smaller
    ``doc_id``), not the min-id member :func:`near_dup_groups` would
    canonicalize. Documents in no cluster are kept untouched.

    This closes the quality×near-dup matrix: ``dedup_keep_best`` is
    keep-best over EXACT fingerprint groups, ``semantic_dedup`` /
    ``minhash``-based drops are near-dup with keep-min-id — this is
    keep-best over near-dup clusters.

    Scale shape: the cluster relation is LSH-premise-small (only docs
    in a verified pair appear), so every join here is broadcast-sized
    (AQE) and the corpus itself is touched exactly three times — the
    shingle pass inside pair generation, the quality lookup building
    ``members``, and the final ``left_anti`` — with no corpus shuffle
    in any. ``members`` localCheckpoints because TWO consumers (the
    per-cluster argmax and the loser join) would otherwise each
    re-execute its corpus-scanning quality join (the edit_dedup
    lesson: checkpoint a derived small relation before fanning out).
    """
    groups = near_dup_groups(docs)
    # r6: semi-join the quality relation down to group members FIRST —
    # Catalyst pushes a LeftSemi below the quality Project
    # (PushDownLeftSemiAntiJoin), so a derived quality expression
    # evaluates only for the LSH-premise-small member set instead of
    # the whole corpus (measured ~1.5s of with_quality eval at sf1.0);
    # the inner join then only attaches group_id
    members = groups.join(
        docs.select(
            "doc_id", F.col(quality_col).alias("_q")
        ).join(groups.select("doc_id"), "doc_id", "left_semi"),
        "doc_id",
    ).localCheckpoint()
    keep = members.groupBy("group_id").agg(
        F.max_by(
            "doc_id",
            F.struct(
                F.col("_q").alias("q"), (-F.col("doc_id")).alias("nid")
            ),
        ).alias("keep_id")
    )
    losers = (
        members.join(keep, "group_id")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti")


def template_families(
    df: DataFrame, k: int = 8, min_df: int = 2
) -> DataFrame:
    """Templated-text family detection: documents sharing an identical
    first-``k``-token prefix (lowercased whitespace tokens) form a
    family — the cheap detector for boilerplate generators (error
    pages, listing templates, form letters) that near-dup measures
    over WHOLE documents miss because the generated tails differ.

    Family id = md5 of the space-joined prefix; only families with
    >= ``min_df`` members return (singletons are just documents).
    Zero-token documents are excluded up front — an empty prefix is
    not a template.

    Scale shape: prefix fingerprinting is a pure map (slice of the
    token array — the full token explode never happens); family sizes
    come from ONE fingerprint-keyed hash-agg (map-side partials), and
    the >= min_df filter prunes the family table to the (rare)
    template families BEFORE it joins back — the family side is
    near-dup-group-sized, not corpus-sized.

    Returns (doc_id, family, fam_size, prefix).
    """
    pre = _ensure_parallelism(df).select(
        "doc_id",
        F.array_join(
            F.slice(F.expr(TOKENS_LC), 1, k), " "
        ).alias("prefix"),
    ).filter(F.col("prefix") != "")
    fams = (
        pre.groupBy("prefix")
        .agg(F.count(F.lit(1)).alias("fam_size"))
        .filter(F.col("fam_size") >= min_df)
        .select(F.md5("prefix").alias("family"), "prefix", "fam_size")
    )
    return pre.join(fams, "prefix").select(
        "doc_id", "family", "fam_size", "prefix"
    )


def edit_dedup(
    df: DataFrame,
    k: int = 8,
    max_dist: int = 8,
    max_fam: int = 64,
) -> DataFrame:
    """Near-exact duplicate pairs by EDIT DISTANCE, with template
    families as the blocking stage: only documents sharing a
    first-``k``-token prefix (:func:`template_families`, min_df=2)
    are candidates, and a pair survives iff the full texts are within
    ``max_dist`` Levenshtein — the code-corpus "same file, one-line
    diff" dedup that token-set measures (Jaccard/minhash) over-match
    and exact fingerprints miss entirely.

    Returns (doc_id_a, doc_id_b, dist) with a < b.

    Scale envelope (documented, the jaccard_max_df discipline):
    families larger than ``max_fam`` are template FARMS — quadratic
    pair enumeration inside them is wasted work (near-identical pairs
    there are better resolved by keep-min-id over the family itself,
    which :func:`template_families` already supports) — so they are
    pruned BEFORE the self-join. The join is family-keyed on the
    pruned (rare) families only; the corpus never self-joins. Spark's
    ``levenshtein(l, r, threshold)`` banded form caps the DP cost at
    O(len * max_dist) per pair and returns -1 above the threshold.
    """
    fams = template_families(df, k=k, min_df=2).filter(
        F.col("fam_size") <= max_fam
    )
    texts = df.select("doc_id", "text")
    # localCheckpoint before the self-join: (a) the family relation is
    # small by the blocking premise, and without the cut BOTH sides of
    # the self-join recompute the whole tokenize + family-agg chain
    # (measured 2.6x on the gate fixture); (b) self-joining a
    # union+groupBy plan trips Catalyst's Union constraint rewrite
    # (the connected_components lesson).
    sides = (
        fams.select("doc_id", "family")
        .join(texts, "doc_id")
        .localCheckpoint()
    )
    a = sides.select(
        F.col("family"),
        F.col("doc_id").alias("doc_id_a"),
        F.col("text").alias("text_a"),
    )
    b = sides.select(
        F.col("family"),
        F.col("doc_id").alias("doc_id_b"),
        F.col("text").alias("text_b"),
    )
    pairs = a.join(b, "family").filter(
        F.col("doc_id_a") < F.col("doc_id_b")
    )
    dist = F.levenshtein(
        F.coalesce(F.col("text_a"), F.lit("")),
        F.coalesce(F.col("text_b"), F.lit("")),
        max_dist,
    )
    return (
        pairs.select("doc_id_a", "doc_id_b", dist.alias("dist"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )
