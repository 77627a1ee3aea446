"""Streaming extraction: incremental file-source processing with
exactly-once checkpointing matches the batch oracle per turn."""

import os

import duckdb
import pandas as pd

from ocr_spark.streaming import extract_stream, read_transcript_stream
from ocr_spark.synth import (
    gen_transcripts,
    oracle_extract,
    write_transcripts_parquet,
)


def _drain(spark, in_dir, out_dir, ckpt):
    stream = read_transcript_stream(spark, in_dir)
    q = extract_stream(stream, out_dir, ckpt)
    q.awaitTermination(120)


def _count(out_dir):
    import glob

    if not glob.glob(f"{out_dir}/*.parquet"):
        return 0
    return duckdb.sql(
        f"select count(*) from '{out_dir}/*.parquet'"
    ).fetchone()[0]


def test_streaming_matches_oracle_and_is_incremental(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    a = gen_transcripts(30, seed=21, whale_lo=40, whale_hi=60)
    write_transcripts_parquet(a, f"{in_dir}/batch-a.parquet")
    _drain(spark, in_dir, out_dir, ckpt)
    n_after_a = duckdb.sql(
        f"select count(*) from '{out_dir}/*.parquet'"
    ).fetchone()[0]
    assert n_after_a == len(a)

    # second batch lands; checkpoint must skip batch-a (no duplicates)
    b = gen_transcripts(20, seed=22, whale_lo=40, whale_hi=60)
    b["conv_id"] = "x" + b["conv_id"]
    write_transcripts_parquet(b, f"{in_dir}/batch-b.parquet")
    _drain(spark, in_dir, out_dir, ckpt)

    got = duckdb.sql(
        f"""select conv_id, turn_idx, text, score, error
            from '{out_dir}/*.parquet' order by conv_id, turn_idx"""
    ).df()
    assert len(got) == len(a) + len(b), "exactly-once: no dup, no loss"

    gold = oracle_extract(pd.concat([a, b], ignore_index=True))
    gold = gold[["conv_id", "turn_idx", "text", "score", "error"]]
    gold = gold.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    got["turn_idx"] = got["turn_idx"].astype("int32")
    pd.testing.assert_frame_equal(
        gold, got.reset_index(drop=True), check_exact=False, rtol=1e-9
    )


def test_streaming_restart_resume_exactly_once(spark, tmp_path):
    """Stop the stream mid-input (after >=1 committed micro-batch, with
    later files still unprocessed), restart from the same checkpoint,
    and require exactly-once totals + per-turn equality vs the batch
    golden \u2014 the streaming twin of the batch crash/resume test."""
    import time

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    parts = []
    for i, seed in enumerate((31, 32, 33)):
        p = gen_transcripts(12, seed=seed, whale_lo=30, whale_hi=40)
        p["conv_id"] = f"f{i}-" + p["conv_id"]
        write_transcripts_parquet(p, f"{in_dir}/batch-{i}.parquet")
        parts.append(p)
    full = pd.concat(parts, ignore_index=True)

    # phase 1: continuous trigger, one file per micro-batch, long pause
    # between triggers -> stopping inside the pause leaves file(s)
    # unprocessed; a restart from checkpoint must pick them up
    stream = read_transcript_stream(spark, in_dir, max_files_per_trigger=1)
    from ocr_spark.extract import extract

    q = (
        extract(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="30 seconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        done = [
            p for p in q.recentProgress if p["numInputRows"] > 0
        ]
        if done:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
    n_first = _count(out_dir)
    assert 0 < n_first < len(full), (
        f"mid-stream stop should leave work undone (got {n_first} of "
        f"{len(full)})"
    )

    # phase 2: restart from the same checkpoint, drain the rest
    _drain(spark, in_dir, out_dir, ckpt)
    got = duckdb.sql(
        f"""select conv_id, turn_idx, text, score, error
            from '{out_dir}/*.parquet' order by conv_id, turn_idx"""
    ).df()
    assert len(got) == len(full), "exactly-once: no dup, no loss"
    gold = oracle_extract(full)[
        ["conv_id", "turn_idx", "text", "score", "error"]
    ].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    got["turn_idx"] = got["turn_idx"].astype("int32")
    pd.testing.assert_frame_equal(
        gold, got.reset_index(drop=True), check_exact=False, rtol=1e-9
    )


def test_streaming_watermarked_dedup_across_restart(spark, tmp_path):
    """At-least-once source: the same rows redelivered in a second file
    (and again after a restart) must be dropped by the watermarked
    (conv_id, turn_idx) state \u2014 exactly-once OUTPUT from at-least-once
    INPUT, with the dedup state surviving the checkpoint restart."""
    from ocr_spark.streaming import extract_stream_dedup

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    a = gen_transcripts(12, seed=51, whale_lo=30, whale_hi=40)
    write_transcripts_parquet(a, f"{in_dir}/a.parquet")
    # redelivery within the same drain: identical rows, new file
    write_transcripts_parquet(a.head(200), f"{in_dir}/a-redelivered.parquet")

    stream = read_transcript_stream(spark, in_dir)
    q = extract_stream_dedup(stream, out_dir, ckpt, watermark="365 days")
    q.awaitTermination(120)
    assert _count(out_dir) == len(a), "in-drain redelivery deduped"

    # restart: new data + ANOTHER redelivery of old rows; state must
    # persist through the checkpoint so old keys still dedup
    b = gen_transcripts(8, seed=52, whale_lo=30, whale_hi=40)
    b["conv_id"] = "x" + b["conv_id"]
    write_transcripts_parquet(b, f"{in_dir}/b.parquet")
    write_transcripts_parquet(a.head(150), f"{in_dir}/a-again.parquet")
    q = extract_stream_dedup(
        read_transcript_stream(spark, in_dir), out_dir, ckpt,
        watermark="365 days",
    )
    q.awaitTermination(120)

    got = duckdb.sql(
        f"""select conv_id, turn_idx, text, score, error
            from '{out_dir}/*.parquet' order by conv_id, turn_idx"""
    ).df()
    assert len(got) == len(a) + len(b), "cross-restart dedup exact"
    gold = oracle_extract(pd.concat([a, b], ignore_index=True))[
        ["conv_id", "turn_idx", "text", "score", "error"]
    ].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    got["turn_idx"] = got["turn_idx"].astype("int32")
    pd.testing.assert_frame_equal(
        gold, got.reset_index(drop=True), check_exact=False, rtol=1e-9
    )


def test_streaming_incremental_against_fingerprint_store(spark, tmp_path):
    """Stream-static composition: a drain extracts only content no
    previous run committed to the FingerprintStore; after the caller
    commits the drain's fingerprints, a redelivery drain (same content
    under fresh conv ids, new files) extracts zero rows."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.dedup import FingerprintStore
    from ocr_spark.operators.textops import with_fingerprint
    from ocr_spark.streaming import extract_stream_incremental

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    store_dir = str(tmp_path / "fps")
    os.makedirs(in_dir)

    a = gen_transcripts(10, seed=61, whale_lo=20, whale_hi=30)
    write_transcripts_parquet(a, f"{in_dir}/a.parquet")

    def drain(run_id):
        q = extract_stream_incremental(
            read_transcript_stream(spark, in_dir), out_dir, ckpt,
            store_dir, run_id,
        )
        q.awaitTermination(120)

    drain("S1")
    n1 = _count(out_dir)
    assert n1 == len(a)
    # caller commits the drain's fingerprints (manifest-last)
    store = FingerprintStore(store_dir)
    fps = (
        with_fingerprint(
            spark.read.parquet(f"{in_dir}/a.parquet")
        )
        .groupBy("fingerprint")
        .agg(F.min(F.xxhash64("conv_id", "turn_idx")).alias("keep_id"))
    )
    store.commit_exact(fps, "S1")

    # redelivery under fresh conv ids: content-level store dedup must
    # drop every row even though the (conv_id, turn_idx) keys are new
    b = a.copy()
    b["conv_id"] = "re" + b["conv_id"]
    write_transcripts_parquet(b, f"{in_dir}/b.parquet")
    drain("S2")
    assert _count(out_dir) == n1, "redelivered content extracted zero rows"


def test_streaming_hash_split_is_stateless_and_stable(spark, tmp_path):
    """hash_split composes with the streaming ingest path unchanged:
    a pure keyed projection needs no state store, and a conversation
    whose turns arrive across DIFFERENT micro-batches still lands in
    one split \u2014 the leakage-safety property survives incremental
    ingest by construction (the selector is keyed, not batch-scoped)."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.textops import hash_split

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    a = gen_transcripts(20, seed=31, whale_lo=30, whale_hi=40)
    half = len(a) // 2
    write_transcripts_parquet(a.iloc[:half], f"{in_dir}/batch-a.parquet")

    def drain():
        stream = read_transcript_stream(spark, in_dir)
        q = (
            hash_split(stream, {"val": 0.2}, key_col="conv_id")
            .select("conv_id", "turn_idx", "split")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    # second half arrives later \u2014 same conversations, new turns
    write_transcripts_parquet(a.iloc[half:], f"{in_dir}/batch-b.parquet")
    drain()

    out = duckdb.sql(
        f"select conv_id, count(distinct split) ns, count(*) n "
        f"from '{out_dir}/*.parquet' group by conv_id"
    ).fetchdf()
    assert int(out["n"].sum()) == len(a)      # exactly-once, all turns
    assert (out["ns"] == 1).all()             # split-coherent across batches
    # batch result is identical to the streamed assignment
    batch = hash_split(
        spark.createDataFrame(a), {"val": 0.2}, key_col="conv_id"
    ).select("conv_id", "split").distinct().toPandas()
    streamed = duckdb.sql(
        f"select distinct conv_id, split from '{out_dir}/*.parquet'"
    ).fetchdf()
    m = batch.merge(streamed, on="conv_id")
    assert (m["split_x"] == m["split_y"]).all()


def test_streaming_pure_map_curation_parity(spark, tmp_path):
    """The pure-map curation family (unicode_clean -> intra_doc_dedup)
    composes with readStream unchanged \u2014 stateless maps need no state
    store \u2014 and an availableNow drain over two file batches produces
    exactly the batch result on the same rows."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.dedup import intra_doc_dedup
    from ocr_spark.operators.textops import unicode_clean

    in_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    rows = [
        (i, "line a\u200b\nline b\nline a\u200b\nend\u2026")
        for i in range(40)
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).iloc[:20].to_parquet(
        f"{in_dir}/b0.parquet", index=False
    )

    def pipeline(df):
        cleaned = unicode_clean(df).select(
            "doc_id", F.col("text_clean").alias("text")
        )
        return intra_doc_dedup(cleaned)

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .parquet(in_dir)
        )
        q = (
            pipeline(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    pd.DataFrame(rows, columns=["doc_id", "text"]).iloc[20:].to_parquet(
        f"{in_dir}/b1.parquet", index=False
    )
    drain()

    streamed = duckdb.sql(
        f"select doc_id, text_clean, n_lines, n_dropped "
        f"from '{out_dir}/*.parquet' order by doc_id"
    ).fetchdf()
    batch = (
        pipeline(spark.createDataFrame(rows, "doc_id long, text string"))
        .orderBy("doc_id")
        .toPandas()
    )
    assert len(streamed) == 40
    for col in ["doc_id", "text_clean", "n_lines", "n_dropped"]:
        assert (streamed[col].values == batch[col].values).all(), col
    # the dirt actually exercised both ops
    assert streamed["text_clean"].iloc[0] == "line a\nline b\nend..."
    assert (streamed["n_dropped"] == 1).all()
