"""Conversation-structure QA operators over multi-turn transcripts.

The engine's native input shape is the transcript relation
(conv_id, turn_idx, role, text) — the same rows the extraction
pipeline emits. Before any SFT construction (sft_examples /
pack_conversations) a real pipeline validates STRUCTURE: roles must
alternate, the opener must be the user, no turn may be empty, and
degenerate lengths (1-turn fragments, unbounded agent loops) are
dropped. The reference validates per-record shape the same way before
export (regex validity flags, `README.md:21`); here the unit of
validity is the conversation.

Spark-first shape: one lag/row_number window pass partitioned by
conv_id (parallelism scales with the CONVERSATION count — unlike a
per-domain window this never caps at a handful of partitions) feeding
one hash-agg with map-side partials. All outputs are integers or role
strings — zero cross-engine float risk by construction.

NULL policy (documented, mirrored in the oracles): a NULL role never
counts as an alternation violation (plain equality — NULL = NULL is
NULL); a NULL or whitespace-only text IS an empty turn.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def conv_stats(df: DataFrame) -> DataFrame:
    """Per-conversation structural statistics.

    Input: (conv_id, turn_idx, role, text). Returns one row per
    conversation:

    - n_turns            total turns
    - n_user/n_assistant role counts (other roles contribute to
                         neither — tool/system turns are legal)
    - first_role         role of the lowest turn_idx
    - n_violations       turns whose role equals the previous turn's
                         role (alternation breaks)
    - n_empty            NULL or whitespace-only turns
    - total_chars        sum of text char lengths (NULL text adds 0)
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    turns = df.select(
        "conv_id",
        "role",
        "text",
        F.lag("role").over(w).alias("_prev_role"),
        F.row_number().over(w).alias("_rn"),
    )
    return turns.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count(F.when(F.col("role") == "user", 1)).alias("n_user"),
        F.count(F.when(F.col("role") == "assistant", 1)).alias(
            "n_assistant"
        ),
        F.max(F.when(F.col("_rn") == 1, F.col("role"))).alias(
            "first_role"
        ),
        F.count(
            F.when(F.col("_prev_role") == F.col("role"), 1)
        ).alias("n_violations"),
        F.count(
            F.when(
                F.col("text").isNull() | (F.trim("text") == ""), 1
            )
        ).alias("n_empty"),
        F.sum(F.coalesce(F.length("text"), F.lit(0)))
        .cast("long")
        .alias("total_chars"),
    )


def conv_filter(
    df: DataFrame,
    min_turns: int = 2,
    max_turns: int = 64,
    require_first: str | None = "user",
    require_alternating: bool = True,
) -> DataFrame:
    """Structural conversation gate: keep only the turns of
    conversations that pass :func:`conv_stats`-derived checks —
    turn count in [min_turns, max_turns], opener role
    ``require_first`` (None disables), zero alternation violations
    (``require_alternating``), and always zero empty turns.

    Returns the ORIGINAL turn rows of surviving conversations plus
    their n_turns. Scale shape: the stats relation is conversation-
    sized; the join back to the turn relation shuffles both sides on
    conv_id — the same key every conversation-wise consumer
    (pack_conversations, sft_examples) partitions by, so the exchange
    is reused downstream in a composed plan.
    """
    stats = conv_stats(df)
    cond = (F.col("n_turns") >= min_turns) & (
        F.col("n_turns") <= max_turns
    )
    if require_first is not None:
        cond = cond & (F.col("first_role") == require_first)
    if require_alternating:
        cond = cond & (F.col("n_violations") == 0)
    cond = cond & (F.col("n_empty") == 0)
    kept = stats.filter(cond).select("conv_id", "n_turns")
    return df.join(kept, "conv_id").select(
        "conv_id", "turn_idx", "role", "text", "n_turns"
    )


def conv_near_dup(df: DataFrame) -> DataFrame:
    """Conversation-level NEAR-dup pairs — the fuzzy member of the
    transcript dedup family (:func:`ocr_spark.operators.dedup.conv_dedup`
    is the exact one): re-rolled sessions that share most turns but
    differ in a few. Each conversation reduces to a DOCUMENT whose
    tokens are its per-turn canonical md5 fingerprints in turn order
    (the conv_dedup canonicalization: lowercased, ws-collapsed). NULL
    turns fingerprint as md5('') and so COUNT as sequence positions —
    deliberately STRICTER than conv_dedup, whose md5(NULL) elements
    vanish from the array_join so a NULL turn is invisible to the
    exact fingerprint (divergence documented here because the
    docstrings are the family contract), and the
    standard MinHash+LSH pipeline runs on those documents: 3-gram
    shingles over the TURN SEQUENCE, so similarity is order-sensitive
    exactly like training-data conv dedup wants.

    Returns (doc_a, doc_b, jaccard) with doc_* = conversation ids.

    Scale shape: the reduction is one conv-keyed hash-agg whose
    aggregated row is 33 bytes/turn regardless of text size (turns
    hash BEFORE the concat — the conv_dedup bound), then everything
    downstream is minhash_lsh_pairs machinery verbatim: band-key
    candidates, candidate-restricted exact Jaccard, df-capped
    posting lists.
    """
    from ocr_spark.operators.dedup import _turn_md5s, minhash_lsh_pairs
    from ocr_spark.operators.textops import _ensure_parallelism

    df = _ensure_parallelism(df)
    canon = F.regexp_replace(
        F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
        r"\s+",
        " ",
    )
    docs = (
        df.groupBy("conv_id")
        .agg(F.array_join(_turn_md5s(canon), " ").alias("text"))
        .select(F.col("conv_id").alias("doc_id"), "text")
    )
    return minhash_lsh_pairs(docs)
