"""Structured Streaming surface for the extraction pipeline.

The reference explicitly descoped real-time ingest (CCTV streaming was
asked and rejected — /root/reference/documents/1차회의의문내용.md:6; the
product is batch photo uploads). This module exists because a complete
engine at 10^12-turn scale still needs an incremental path: new
transcript partitions land continuously, and re-running the batch job
over the full table is wasteful even with lineage resume.

Design: the SAME fused pandas UDF (ocr_spark.extract) applied to a
file-source stream. Exactly-once comes from Spark's checkpointed source
offsets + idempotent parquet sink — the streaming twin of the batch
lineage/anti-join protocol (ocr_spark.io). Extraction itself is
stateless per-row, so ``extract_stream`` is a pure map (the cheapest
possible streaming operator shape — no watermark needed);
``extract_stream_dedup`` adds the one stateful shape an at-least-once
source forces (watermarked keyed dedup, state bounded by event time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ocr_spark.extract import extract
from ocr_spark.schema import TRANSCRIPTS


def read_transcript_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """File-source stream over a transcripts directory (new parquet files
    are discovered per micro-batch — the Iceberg/Kafka source drops in
    behind the same schema)."""
    return (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def _start_parquet_sink(df: DataFrame, output_dir: str, checkpoint_dir: str):
    """Start ``df`` as an append-mode parquet stream checkpointed at
    ``checkpoint_dir`` that drains the available input and stops
    (``availableNow``)."""
    return (
        df.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def extract_stream(
    transcripts: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
):
    """Run the extraction UDF over a streaming transcripts DataFrame.

    Returns the started StreamingQuery, which drains all available
    input then stops — the "incremental batch" mode (run from cron,
    process only new files, exactly-once via checkpoint).
    """
    ext = extract(transcripts)  # map-only: no partitions arg, no shuffle
    return _start_parquet_sink(ext, output_dir, checkpoint_dir)


def extract_stream_dedup(
    transcripts: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
):
    """Stateful streaming: at-least-once source dedup before extraction.

    Real transcript feeds redeliver (a producer retry re-lands a file,
    a log-based source replays a segment), so the stream drops
    duplicate (conv_id, turn_idx) keys with keyed state bounded by an
    event-time watermark on ``ts``: a key's state is evicted once the
    watermark passes its event time, so state size is
    O(keys-per-watermark-window), not O(all keys ever seen) — the knob
    that keeps this runnable forever at 10^12-turn scale. Duplicates
    arriving later than ``watermark`` after the original are NOT
    caught (the standard watermarked-dedup contract); size the
    watermark to the source's redelivery horizon.

    First occurrence is emitted immediately (dropDuplicates streams
    rows through; only the state eviction waits for the watermark), so
    this adds one stateful shuffle and zero latency to the map-only
    extract. State survives restarts via the checkpoint.
    """
    deduped = transcripts.withWatermark("ts", watermark).dropDuplicates(
        ["conv_id", "turn_idx"]
    )
    return _start_parquet_sink(extract(deduped), output_dir, checkpoint_dir)


def extract_stream_incremental(
    transcripts: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    run_id: str,
):
    """Streaming ingest composed with the CROSS-RUN fingerprint store
    (the batch ``--fingerprint-store`` semantics on the micro-batch
    path): each arriving turn's canonical content fingerprint
    anti-joins the STATIC committed store — a stream-static join, so
    no streaming state at all (the store is the state, durably on
    disk) — and only content no previous run committed flows into
    extraction.

    Each availableNow DRAIN constructs a fresh query, so the store is
    re-listed at construction and a commit made between drains is seen
    by the next one. (Inside one
    long-running query the stream-static contract re-executes the
    static side per micro-batch, but the parquet FILE INDEX is
    resolved at plan time — do not rely on mid-query store growth.)
    This path deliberately does NOT commit new fingerprints itself: a
    drain's output is committed to the store by the caller after the
    drain completes (manifest-last, same as the batch CLI), keeping
    the at-most-once store append under caller control.

    Returns the started StreamingQuery.
    """
    from ocr_spark.operators.dedup import FingerprintStore

    fresh = FingerprintStore(store_dir).fresh(transcripts, run_id)
    fresh = fresh.drop("fingerprint")
    return _start_parquet_sink(extract(fresh), output_dir, checkpoint_dir)
