"""Relational operators the Spark re-expression needs (SURVEY.md §2.2).

These are thin, deliberately-shaped compositions of built-ins — the
point is the *plan* (anti-join for resume, window scans instead of
range joins for as-of joins and sessions), not the code volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def dedup_turns(transcripts: DataFrame) -> DataFrame:
    """O2: drop duplicate (conv_id, turn_idx) rows — the reference's
    duplicate-filename dedup (documents/…2학기_8주차.md:52)."""
    return transcripts.dropDuplicates(["conv_id", "turn_idx"])


def resume_anti_join(
    all_units: DataFrame, committed: DataFrame, key: str
) -> DataFrame:
    """O16: units not yet committed (left_anti on the unit key)."""
    return all_units.join(committed, key, "left_anti")


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str = "ts",
    payload: dict[str, str] | None = None,
    right_id: str = "rid",
) -> DataFrame:
    """Time-series as-of join: attach to every ``left`` row the most
    recent ``right`` row with ``right.ts <= left.ts`` for the same key
    (the point-in-time lookup of market-data and feature-store joins;
    Spark has no native ASOF JOIN — DuckDB/Pandas do).

    Implementation is the union-tag + running last-non-null trick, NOT
    a range join: a theta-join on ``r.ts <= l.ts`` explodes to
    O(|L|x|R|) per key before aggregation, while this is one
    window-sort over |L|+|R| rows per key — the only shape that
    survives 10^12 rows. Right rows sort BEFORE left rows at equal
    timestamps (inclusive <= semantics), and equal-timestamp right
    rows tie-break by ``right_id`` (the later id wins), which makes
    the result total-ordered and engine-portable; the relative order
    of left rows at the same instant is irrelevant (they all see the
    same set of right rows, and left rows carry null payload).

    ``payload`` maps right-side column -> output alias. Left rows with
    no matching right row keep null payload (left-join semantics).
    """
    payload = payload or {}
    out_cols = list(payload.values())
    l_tag = left.withColumn("_side", F.lit(1)).withColumn(
        "_rid", F.lit(None).cast("long")
    )
    for src, dst in payload.items():
        l_tag = l_tag.withColumn(dst, F.lit(None).cast(
            dict(right.dtypes)[src]
        ))
    r_tag = right.select(
        key,
        F.col(ts).alias(ts),
        F.lit(0).alias("_side"),
        F.col(right_id).cast("long").alias("_rid"),
        *[F.col(src).alias(dst) for src, dst in payload.items()],
    )
    left_cols = [c for c in left.columns]
    u = l_tag.select(
        *left_cols, "_side", "_rid", *out_cols
    ).unionByName(
        r_tag, allowMissingColumns=True
    )
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_side").asc(),
                 F.col("_rid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        *left_cols,
        "_side",
        *[
            F.last(c, ignorenulls=True).over(w).alias(c)
            for c in out_cols
        ],
    )
    return filled.filter(F.col("_side") == 1).drop("_side")


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionization: consecutive events (by ``ts``, ties by
    ``event_id``) of one ``user_id`` belong to the same session while
    the inter-event gap stays under ``gap_minutes``; a longer silence
    starts a new session (the standard web-analytics / agent-episode
    segmentation).

    Lag + cumulative-sum of session-start flags inside one window —
    two passes over each key partition, no self-join, no explosion.
    Returns the input plus ``session_idx`` (0-based per key).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds (unix_micros == DuckDB epoch_us):
    # second-level casts truncate/round differently across engines on
    # sub-second timestamps. Parquet timestamps load as TIMESTAMP_NTZ,
    # which unix_micros rejects — cast via the (UTC-pinned) session
    # timezone; only gap DIFFERENCES matter, so the interpretation
    # offset cancels even off-UTC
    gap_us = gap_minutes * 60 * 1_000_000
    mu = F.unix_micros(F.col("ts").cast("timestamp"))
    is_new = (mu - F.lag(mu).over(w) > gap_us).cast("long")
    return events.withColumn(
        "session_idx",
        F.sum(F.coalesce(is_new, F.lit(0))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Exact grouped quantiles (corpus inspection: length/score
    distributions per stratum). Uses Spark's exact ``percentile``
    aggregate — linear-interpolation semantics identical to ANSI
    ``percentile_cont`` / DuckDB ``quantile_cont``, so results are
    engine-portable. Exact percentile sorts within each group: right
    for bounded group counts (per-language/source stats); for
    per-document groups at 10^12 rows use approx_percentile instead
    (sketch-based, no sort) and drop the oracle equality claim.
    Returns (group, p5, p9, p99, n) for the 0.5/0.9/0.99 quantiles.
    """
    qs = (0.5, 0.9, 0.99)
    arr = ", ".join(str(q) for q in qs)
    agg = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, array({arr}))").alias("_q"),
        F.count(F.lit(1)).alias("n"),
    )
    cols = [
        F.round(F.element_at("_q", i + 1), 4).alias(
            f"p{str(q).replace('0.', '')}"
        )
        for i, q in enumerate(qs)
    ]
    return agg.select(group_col, *cols, "n")


def corpus_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot diff between two corpus versions keyed by doc_id — the
    ingest-versioning primitive (what changed between crawl N and crawl
    N+1; feeds incremental re-processing and drift dashboards).

    Returns (doc_id, status) with status in added / removed / changed /
    unchanged, by content fingerprint: md5 of text, NULL text
    fingerprinting as the empty string (a doc whose text goes NULL <->
    '' therefore reads unchanged — the fingerprint policy, documented
    rather than surprising).

    Scale shape: each side reduces to a (doc_id, 16-byte fp) projection
    BEFORE the join — text never shuffles — and the FULL OUTER join
    co-partitions on doc_id (the natural bucketing key, so with
    bucketed snapshot tables this is exchange-free). doc_id is assumed
    unique per snapshot (the corpus contract).
    """
    o = old.select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp_old"),
    )
    n = new.select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp_new"),
    )
    return o.join(n, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
