"""spark-submit entry point for the extraction pipeline.

Usage (ships via --py-files, see jobs/package.sh):

    spark-submit --py-files dist/ocr_spark.zip jobs/extract.py \
        --input /path/to/transcripts --output /path/to/warehouse \
        --run-id R1 [--buckets 64] [--group-size 8] [--partitions 256] \
        [--salt-threshold 10000] [--salt-buckets 1024] [--reset] \
        [--export-json /path/out_json] [--fingerprint-store /path/fps]

Graft of the reference's headless API mode (/root/reference/README.md:51-56:
drop files in images/ -> upload.bat -> download.bat -> reset.bat): folder
in, resumable server-held state (lineage), results out, reset verb.
"""

from __future__ import annotations

import argparse
import sys


def _commit_fingerprints(fingerprinted, store_dir: str, run_id: str) -> None:
    """Commit a run's content fingerprints to the store, manifest-last:
    callers run this only after the run's output committed. keep_id is
    an informational stable 64-bit key of the first (conv_id, turn_idx)
    seen with that fingerprint."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.dedup import FingerprintStore

    fps = fingerprinted.groupBy("fingerprint").agg(
        F.min(F.xxhash64("conv_id", "turn_idx")).alias("keep_id")
    )
    FingerprintStore(store_dir).commit_exact(fps, run_id)
    print(f"fingerprint store: committed run {run_id}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="ocr_spark extraction job")
    ap.add_argument("--input", required=True, help="transcripts input dir")
    ap.add_argument(
        "--input-format",
        default="parquet",
        choices=("parquet", "orc", "json", "jsonl", "csv"),
        help="transcript wire format (json = JSONL; csv needs a header)",
    )
    ap.add_argument(
        "--dedup",
        action="store_true",
        help="drop duplicate (conv_id, turn_idx) rows on ingest",
    )
    ap.add_argument("--output", required=True, help="warehouse root dir")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--group-size", type=int, default=8)
    ap.add_argument(
        "--partitions",
        type=int,
        default=None,
        help="initial partition count of the salted conv_id rebalance "
        "(see ocr_spark.partitioning.repartition_salted); unset = no "
        "shuffle",
    )
    ap.add_argument("--salt-threshold", type=int, default=10_000)
    ap.add_argument("--salt-buckets", type=int, default=1024)
    ap.add_argument("--reset", action="store_true", help="forget run commits")
    ap.add_argument("--export-json", default=None)
    ap.add_argument(
        "--export-xlsx",
        default=None,
        help="write an Excel report (capped at 100k rows; report "
        "surface, not a data sink)",
    )
    ap.add_argument(
        "--iceberg-table",
        default=None,
        help="write to this Iceberg table (catalog.db.name) instead of "
        "the Parquet-layout warehouse; requires the Iceberg runtime jar "
        "on the classpath (--packages)",
    )
    ap.add_argument(
        "--fingerprint-store",
        default=None,
        metavar="DIR",
        help="cross-RUN content dedup: drop ingested turns whose "
        "canonical text fingerprint was committed by a PREVIOUS run in "
        "this store, and commit this run's new fingerprints under its "
        "run-id partition afterwards (overwrite-own-partition, so "
        "re-running a run-id is idempotent). The store holds md5 "
        "fingerprints only, never text.",
    )
    ap.add_argument(
        "--stream",
        action="store_true",
        help="incremental mode: availableNow streaming drain of new "
        "files under --input (exactly-once via checkpoint); rerun to "
        "process only what landed since the last drain",
    )
    ap.add_argument(
        "--stream-dedup",
        default=None,
        metavar="WATERMARK",
        help="with --stream: drop redelivered (conv_id, turn_idx) rows "
        "using keyed state bounded by this event-time watermark "
        "(e.g. '1 hour')",
    )
    args = ap.parse_args(argv)

    if args.stream:
        # fail fast instead of silently ignoring batch-only flags: the
        # streaming drain always reads parquet and writes the parquet
        # stream layout (checkpoint-tracked), so these combinations
        # would otherwise no-op or fail deep inside the query.
        incompatible = {
            "--input-format": args.input_format != "parquet",
            "--dedup": args.dedup,
            "--iceberg-table": args.iceberg_table is not None,
            "--export-json": args.export_json is not None,
            "--export-xlsx": args.export_xlsx is not None,
            "--reset": args.reset,
        }
        if args.stream_dedup and args.fingerprint_store:
            ap.error(
                "--stream-dedup and --fingerprint-store are separate "
                "stream dedup policies (watermarked keyed state vs "
                "committed-store anti-join); pick one"
            )
        bad = [flag for flag, hit in incompatible.items() if hit]
        if bad:
            ap.error(
                f"--stream is parquet-in/parquet-out with checkpoint "
                f"state; incompatible with: {', '.join(bad)}"
            )
    elif args.stream_dedup:
        ap.error("--stream-dedup requires --stream")

    from pyspark.sql import SparkSession

    from ocr_spark.extract import ExtractCounters
    from ocr_spark.io import ExtractWriter, read_transcripts

    spark = (
        SparkSession.builder.appName(f"ocr_spark-extract-{args.run_id}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    if args.stream:
        from ocr_spark.streaming import (
            extract_stream,
            extract_stream_dedup,
            extract_stream_incremental,
            read_transcript_stream,
        )

        out_dir = f"{args.output}/stream"
        ckpt = f"{args.output}/_stream_checkpoint"
        stream = read_transcript_stream(spark, args.input)
        if args.stream_dedup:
            q = extract_stream_dedup(
                stream, out_dir, ckpt,
                watermark=args.stream_dedup,
            )
        elif args.fingerprint_store:
            q = extract_stream_incremental(
                stream, out_dir, ckpt,
                args.fingerprint_store, args.run_id,
            )
        else:
            q = extract_stream(stream, out_dir, ckpt)
        q.awaitTermination()
        if args.fingerprint_store and not args.stream_dedup:
            # after the drain commits its output, record the whole input
            # dir's fingerprints — a superset of the survivors,
            # equivalent for dedup and idempotent under the
            # overwrite-own-partition contract
            from ocr_spark.operators.textops import with_fingerprint

            _commit_fingerprints(
                with_fingerprint(spark.read.parquet(args.input)),
                args.fingerprint_store, args.run_id,
            )
        print(f"stream drain complete -> {out_dir}")
        spark.stop()
        return 0

    writer = ExtractWriter(
        args.output, iceberg_table=args.iceberg_table, spark=spark
    )
    if args.reset:
        writer.reset(args.run_id, spark=spark)

    if args.input.endswith(".zip"):
        # ZIP batch container (reference upload shape): expand once,
        # dedup by filename, then by (conv_id, turn_idx) if --dedup
        from ocr_spark.io import ingest_zip

        transcripts = ingest_zip(
            spark, args.input, fmt=args.input_format, dedup=args.dedup
        )
    else:
        transcripts = read_transcripts(
            spark, args.input, fmt=args.input_format, dedup=args.dedup
        )
    if args.fingerprint_store:
        from ocr_spark.operators.dedup import FingerprintStore

        fresh_fp = FingerprintStore(args.fingerprint_store).fresh(
            transcripts, args.run_id
        )
        transcripts = fresh_fp.drop("fingerprint")
    counters = ExtractCounters(spark)
    committed = writer.run(
        spark,
        transcripts,
        args.run_id,
        n_buckets=args.buckets,
        group_size=args.group_size,
        partitions=args.partitions,
        salt_buckets=args.salt_buckets,
        salt_threshold=args.salt_threshold,
        counters=counters,
    )
    print(f"committed buckets this run: {sorted(committed)}")
    if args.fingerprint_store:
        # like the lineage rows, the store commits after the buckets did
        _commit_fingerprints(fresh_fp, args.fingerprint_store, args.run_id)
    # live accumulator view (O15); lineage rows are the committed truth
    print(
        "progress counters: n_turns={n_turns} n_errors={n_errors} "
        "kernel_s={kernel_s:.2f}".format(
            **counters.snapshot()
        )
    )
    if args.export_json:
        writer.export_json(spark, args.export_json)
    if args.export_xlsx:
        n = writer.export_xlsx(spark, args.export_xlsx)
        print(f"xlsx report: {n} rows -> {args.export_xlsx}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
