"""Multimodal binary-column plumbing: decode metadata, frame sampling,
feature extraction — schema, row counts, determinism, bounded frames."""

import pandas as pd
from pyspark.sql import functions as F

from ocr_spark.operators import multimodal as M


def _media(spark, n=40):
    pdf = pd.DataFrame(
        {
            "media_id": range(n),
            "text": [
                ("payload %d " % i) * (1 + (i * 37) % 400) for i in range(n)
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    return M.encode_fake_media(df, "text", kind="image")


def test_decode_metadata_matches_source(spark):
    media = _media(spark)
    meta = M.decode_media(media).orderBy("media_id").toPandas()
    src = media.select(
        "media_id", F.length(F.encode("text", "UTF-8")).alias("n")
    ).orderBy("media_id").toPandas()
    assert len(meta) == len(src)
    assert (meta["n_bytes"].values == src["n"].values).all()
    assert (meta["width"].values == (src["n"].values % 1000) + 1).all()
    assert (meta["codec"] == "fake/v1").all()
    assert meta["sha256"].str.len().eq(64).all()


def test_decode_unknown_container_error_channel(spark):
    pdf = pd.DataFrame({"media_id": [0], "kind": ["image"],
                        "payload": [b"\x00\x01garbage"]})
    df = spark.createDataFrame(pdf)
    meta = M.decode_media(df).collect()[0]
    assert meta.codec == "unknown" and meta.width == -1
    assert meta.n_bytes == 9  # row preserved, never dropped


def test_frame_sampling_bounded_and_complete(spark):
    media = _media(spark, n=10)
    frames = M.sample_frames(media, frame_bytes=64).toPandas()
    assert (frames["frame_len"] <= 64).all()
    # reassembling all frames of one media recovers the full body length
    body_len = (
        media.select(
            "media_id",
            (F.length("payload") - 18).alias("n"),
        ).orderBy("media_id").toPandas()
    )
    got = frames.groupby("media_id")["frame_len"].sum().sort_index()
    assert (got.values == body_len["n"].values).all()
    # every_n=2 keeps ~half the frames
    half = M.sample_frames(media, frame_bytes=64, every_n=2).count()
    assert half <= len(frames)


def test_features_fixed_width_deterministic(spark):
    media = _media(spark, n=12)
    a = M.extract_features(media, dims=8).orderBy("media_id").toPandas()
    b = M.extract_features(media, dims=8).orderBy("media_id").toPandas()
    assert a["feature"].map(len).eq(8).all()
    assert all(list(x) == list(y) for x, y in zip(a["feature"], b["feature"]))
    assert all(0.0 <= v < 1.0 for vec in a["feature"] for v in vec)


def test_decode_corrupt_magic_payload_row_preserved(spark):
    # MAGIC prefix but truncated / non-digit header: must become a
    # codec='unknown' row, never a stage-killing ValueError
    pdf = pd.DataFrame(
        {
            "media_id": [0, 1, 2, 3],
            "kind": ["image"] * 4,
            "payload": [
                M._MAGIC,                          # truncated: no dims
                M._MAGIC + b"12x4" + b"0005body",  # non-digit width
                M._MAGIC + b"0004" + b"00",        # truncated height
                b"not magic at all",               # foreign container
            ],
        }
    )
    meta = M.decode_media(spark.createDataFrame(pdf)).orderBy(
        "media_id"
    ).toPandas()
    assert len(meta) == 4
    assert (meta["codec"] == "unknown").all()
    assert (meta["width"] == -1).all()
