"""The fused extraction stage — one Arrow-vectorized pandas UDF.

Graft of the reference's whole per-image chain (detect -> normalize ->
3 recognizers -> vote -> validate -> record, /root/reference
README.md:18-21) fused into a single scalar ``pandas_udf`` returning a
struct: fan-out *inside* one kernel beats three plan branches (no triple
scan, no shuffle between stages — SURVEY.md §4.1).

Plan shape (SURVEY.md §3.4):

    scan -> [optional salted conv_id-hash rebalance] -> pandas UDF
         -> struct expansion (zero extra exchange)

Column pruning is explicit: only (conv_id, turn_idx, text, tool) plus
caller-requested passthrough columns reach the UDF stage.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf

from ocr_spark.partitioning import repartition_salted
from ocr_spark.schema import EXTRACT_RESULT


class ExtractCounters:
    """Live progress counters (SURVEY.md O15): Spark accumulators
    updated from inside the extraction UDF per Arrow batch — the
    engine's analog of the reference's progress/status bar
    (/root/reference/documents/…11주차.md:66), visible on the driver
    WHILE the job runs. Task retries/speculation can overcount
    accumulators (Spark semantics for transformations), so the exact
    committed truth remains the lineage rows; these are the live view.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.n_turns = sc.accumulator(0)
        self.n_errors = sc.accumulator(0)
        # wall seconds inside ``extract_batch``, summed over batches
        self.kernel_s = sc.accumulator(0.0)

    def snapshot(self) -> dict[str, float]:
        return {
            "n_turns": self.n_turns.value,
            "n_errors": self.n_errors.value,
            "kernel_s": self.kernel_s.value,
        }


def make_extract_udf(counters: ExtractCounters | None = None):
    """Build the fused extraction UDF (Arrow batches in and out)."""
    from ocr_spark.kernels import extract_batch  # import on executor too

    @pandas_udf(EXTRACT_RESULT)
    def extract_udf(text: pd.Series, tool: pd.Series) -> pd.DataFrame:
        t0 = time.perf_counter()
        out = extract_batch(text, tool)
        if counters is not None:
            counters.kernel_s.add(time.perf_counter() - t0)
            counters.n_turns.add(len(out))
            counters.n_errors.add(int((out["error"] != "").sum()))
        return out

    return extract_udf


def extract(
    df: DataFrame,
    *,
    partitions: int | None = None,
    salt_buckets: int = 1024,
    salt_threshold: int = 10_000,
    passthrough: list[str] | None = None,
    counters: ExtractCounters | None = None,
) -> DataFrame:
    """Run the extraction pipeline over a transcripts DataFrame.

    Returns conv_id, turn_idx, processed_at and the EXTRACT_RESULT
    fields (plus ``passthrough`` columns). With ``partitions`` set,
    performs the salted conv_id-hash rebalance first (the one shuffle
    of the pipeline), and ``partitions`` is its initial partition count
    (see ``repartition_salted``); otherwise extraction is a pure map
    over the scan partitions.
    """
    passthrough = passthrough or []
    cols = ["conv_id", "turn_idx", "text", "tool", *passthrough]
    pruned = df.select(*dict.fromkeys(cols))

    staged = (
        repartition_salted(
            pruned,
            partitions,
            salt_buckets=salt_buckets,
            salt_threshold=salt_threshold,
        )
        if partitions
        else pruned
    )

    udf = make_extract_udf(counters)
    res = staged.withColumn("_r", udf(F.col("text"), F.col("tool")))
    return res.select(
        "conv_id",
        "turn_idx",
        F.current_timestamp().alias("processed_at"),
        F.col("_r.candidates").alias("candidates"),
        F.col("_r.text").alias("text"),
        F.col("_r.spans").alias("spans"),
        F.col("_r.score").alias("score"),
        F.col("_r.error").alias("error"),
        *passthrough,
    )
