"""Multi-format transcript sources: JSONL and CSV ingest must produce
the same rows as the native parquet path (schema-enforced, no inference
scan), and ingest-dedup mirrors the duplicate-filename rule."""

import pandas as pd

from ocr_spark.io import read_transcripts


def _write_all_formats(tiny_transcripts, tmp_path):
    pq = tmp_path / "pq"
    js = tmp_path / "js"
    cs = tmp_path / "cs"
    for d in (pq, js, cs):
        d.mkdir()
    from ocr_spark.synth import write_transcripts_parquet

    write_transcripts_parquet(tiny_transcripts, str(pq / "t.parquet"))
    df = tiny_transcripts.copy()
    iso = df["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f%z")
    df = df.assign(ts=iso)
    df.to_json(js / "t.jsonl", orient="records", lines=True)
    df.to_csv(cs / "t.csv", index=False)
    return str(pq), str(js), str(cs)


def _canon(sdf):
    pdf = sdf.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(
        drop=True
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True)
    return pdf


def test_jsonl_and_csv_match_parquet(spark, tiny_transcripts, tmp_path):
    pq, js, cs = _write_all_formats(tiny_transcripts, tmp_path)
    base = _canon(read_transcripts(spark, pq, "parquet"))
    for path, fmt in ((js, "json"), (cs, "csv")):
        got = _canon(read_transcripts(spark, path, fmt))
        pd.testing.assert_frame_equal(got, base, check_dtype=False)


def test_orc_roundtrip_matches_parquet(spark, tiny_transcripts, tmp_path):
    """ORC source (Spark-bundled columnar, the second scale-class
    format): write the parquet rows out as ORC, read via the typed
    source, rows identical."""
    pq, _, _ = _write_all_formats(tiny_transcripts, tmp_path)
    orc_dir = str(tmp_path / "orc")
    base_df = read_transcripts(spark, pq, "parquet")
    base_df.write.orc(orc_dir)
    got = _canon(read_transcripts(spark, orc_dir, "orc"))
    pd.testing.assert_frame_equal(got, _canon(base_df), check_dtype=False)


def test_ingest_dedup_drops_duplicate_turns(spark, tiny_transcripts, tmp_path):
    d = tmp_path / "dup"
    d.mkdir()
    from ocr_spark.synth import write_transcripts_parquet

    write_transcripts_parquet(tiny_transcripts, str(d / "a.parquet"))
    write_transcripts_parquet(tiny_transcripts, str(d / "b.parquet"))
    raw = read_transcripts(spark, str(d), "parquet")
    assert raw.count() == 2 * len(tiny_transcripts)
    deduped = read_transcripts(spark, str(d), "parquet", dedup=True)
    assert deduped.count() == len(tiny_transcripts)


def test_unknown_format_rejected(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="unknown transcript format"):
        read_transcripts(spark, str(tmp_path), "avro")


def test_zip_ingest_dedups_by_filename_then_rows(
    spark, tiny_transcripts, tmp_path
):
    # the reference's ZIP batch container: duplicate FILENAMES are
    # dropped (first wins) before the row-level dedup
    import zipfile

    from ocr_spark.io import ingest_zip

    df = tiny_transcripts.copy()
    iso = df["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f%z")
    df = df.assign(ts=iso)
    half = len(df) // 2
    a, b = df.iloc[:half], df.iloc[half:]
    p_a, p_b, p_dup = (tmp_path / n for n in ("a.jsonl", "b.jsonl", "d.jsonl"))
    a.to_json(p_a, orient="records", lines=True)
    b.to_json(p_b, orient="records", lines=True)
    b.to_json(p_dup, orient="records", lines=True)

    zp = str(tmp_path / "batch.zip")
    with zipfile.ZipFile(zp, "w") as z:
        z.write(p_a, "a.jsonl")
        z.write(p_b, "b.jsonl")
        z.write(p_dup, "sub/a.jsonl")     # duplicate FILENAME: dropped
        z.write(p_dup, "other/b.jsonl")   # duplicate FILENAME: dropped

    got = ingest_zip(
        spark, zp, fmt="jsonl", work_dir=str(tmp_path / "wz")
    )
    assert got.count() == len(df)
    assert got.select("conv_id").distinct().count() == df[
        "conv_id"
    ].nunique()
