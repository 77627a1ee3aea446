#!/usr/bin/env python
"""Streaming-path soak: availableNow drain of a multi-file transcript
inbox through the fused extraction UDF, parquet sink + checkpoint.

Generates ~100k turns split over 16 landing files (cached), drains them
in one availableNow run, then verifies exactly-once by draining again
(0 new rows) and dropping one more file (only its rows appear).

Throughput note: the map-only stream's parallelism is bounded by
files-per-micro-batch (one scan partition per landing file, no shuffle
to rebalance) — with 15 files on 32 cores roughly half the machine
works, ~9-10k turns/s here. At production scale landing files vastly
outnumber cores, so the bound disappears; it is a property of this
fixture, not the operator.

Run: python BENCH/soak_stream.py [n_convs]
Prints one JSON line.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

N_CONVS = int(sys.argv[1]) if len(sys.argv) > 1 else 1_400  # ~100k turns
N_FILES = 16
CACHE = Path("/tmp/ocr_spark_bench") / f"stream_inbox_{N_CONVS}"
WORK = Path("/dev/shm/ocr_spark_soak_stream")


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    from ocr_spark.streaming import extract_stream, read_transcript_stream
    from ocr_spark.synth import gen_transcripts_ids, write_transcripts_parquet

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("soak-stream")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.local.dir", "/dev/shm/ocr_spark_local")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if not (CACHE / "_DONE").exists():
        CACHE.mkdir(parents=True, exist_ok=True)
        per = N_CONVS // N_FILES
        for f in range(N_FILES):
            ids = range(f * per, (f + 1) * per)
            write_transcripts_parquet(
                gen_transcripts_ids(ids, seed=0),
                str(CACHE / f"file-{f:03d}.parquet"),
            )
        (CACHE / "_DONE").touch()

    shutil.rmtree(WORK, ignore_errors=True)
    in_dir = WORK / "in"
    in_dir.mkdir(parents=True)
    # first 15 files now; the 16th lands later for the incremental check
    for f in sorted(CACHE.glob("file-*.parquet"))[:-1]:
        shutil.copy(f, in_dir / f.name)
    out_dir = str(WORK / "out")
    ckpt = str(WORK / "ckpt")

    def drain():
        q = extract_stream(
            read_transcript_stream(spark, str(in_dir), max_files_per_trigger=16),
            out_dir,
            ckpt,
        )
        q.awaitTermination(600)

    def count():
        return duckdb.sql(
            f"select count(*) from '{out_dir}/*.parquet'"
        ).fetchone()[0]

    t0 = time.time()
    drain()
    wall = time.time() - t0
    n1 = count()

    drain()  # no-op drain: checkpoint must skip everything
    n2 = count()

    last = sorted(CACHE.glob("file-*.parquet"))[-1]
    shutil.copy(last, in_dir / last.name)
    drain()
    n3 = count()
    n_last = duckdb.sql(
        f"select count(*) from '{last}'"
    ).fetchone()[0]

    print(
        json.dumps(
            {
                "n_turns_first_drain": n1,
                "wall_s": round(wall, 1),
                "turns_per_sec": round(n1 / wall, 1),
                "noop_drain_added": n2 - n1,
                "late_file_added": n3 - n2,
                "late_file_rows": n_last,
                "exactly_once": (n2 == n1) and (n3 - n2 == n_last),
            }
        )
    )
    shutil.rmtree(WORK, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
