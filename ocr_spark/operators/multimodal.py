"""Multimodal (image/audio/video) column operators.

Media payloads are opaque ``binary`` columns with typed metadata — the
Spark-side plumbing (schemas, Arrow batch shapes over ``mapInPandas``,
frame explosion, partition behavior) is real and tested; the actual
codec work (JPEG decode, audio resample, H.264 frame extraction) is
STUBBED by a deterministic fake-media format because no image/audio
libraries are installed. Swapping a stub for PIL/librosa/av changes one
function body and nothing about the plan.

Graft rationale: the reference ingests images and crops regions of
interest (/root/reference/README.md:18, readmeImage/flowchart.png); this
module is the engine's binary-ingest surface for the same class of
payload at cluster scale.

Scale notes:
- every operator is a map-only ``mapInPandas`` stage over Arrow record
  batches — no shuffle, no driver-side bytes;
- frame sampling multiplies rows; it emits bounded-size frames so one
  4GB video cannot produce a single huge row (Arrow 2GB cell limit);
- feature vectors are fixed-width ``array<float>`` ready for the
  similarity operators (ocr_spark.operators.similarity).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

MEDIA_META = (
    "media_id long, kind string, n_bytes long, sha256 string, "
    "width int, height int, codec string"
)

FRAME_SCHEMA = (
    "media_id long, frame_idx int, frame binary, frame_len int"
)

FEATURE_SCHEMA = "media_id long, feature array<float>"

_MAGIC = b"FAKEMEDIA1"
FRAME_BYTES = 4096  # bounded frame size (Arrow cell-size safety)


def encode_fake_media(df: DataFrame, text_col: str = "text",
                      kind: str = "image") -> DataFrame:
    """Wrap a text column as a fake binary media payload.

    Layout: MAGIC | width(4, ascii) | height(4, ascii) | body bytes.
    Width/height are deterministic functions of the body length so a
    decode can be oracle-checked from the original text.
    """
    body = F.encode(F.col(text_col), "UTF-8")
    n = F.length(body)
    width = F.lpad((F.pmod(n, F.lit(1000)) + 1).cast("string"), 4, "0")
    height = F.lpad((F.pmod(n * 7, F.lit(1000)) + 1).cast("string"), 4, "0")
    payload = F.concat(
        F.lit(_MAGIC),
        F.encode(width, "UTF-8"),
        F.encode(height, "UTF-8"),
        body,
    )
    return df.withColumn("kind", F.lit(kind)).withColumn("payload", payload)


def decode_media(df: DataFrame) -> DataFrame:
    """Parse payload headers into typed metadata (map-only, no shuffle).

    For real media this is where PIL/av would run; the fake-header
    parse exercises the same binary-in, struct-out Arrow batch shape.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["media_id"].to_numpy()
            kinds = pdf["kind"].to_numpy()
            out = {
                "media_id": [], "kind": [], "n_bytes": [], "sha256": [],
                "width": [], "height": [], "codec": [],
            }
            for i, buf in enumerate(pdf["payload"].to_numpy()):
                b = bytes(buf) if buf is not None else b""
                try:
                    if not b.startswith(_MAGIC) or len(b) < 18:
                        raise ValueError("not fake/v1")
                    w = int(b[10:14])
                    h = int(b[14:18])
                    body = b[18:]
                    codec = "fake/v1"
                except ValueError:
                    # corrupt or foreign container (truncated header,
                    # non-digit dims): metadata-only row, never a stage
                    # failure — the error channel is row-preserving
                    w = h = -1
                    body = b
                    codec = "unknown"
                out["media_id"].append(int(ids[i]))
                out["kind"].append(kinds[i])
                out["n_bytes"].append(len(body))
                out["sha256"].append(hashlib.sha256(body).hexdigest())
                out["width"].append(w)
                out["height"].append(h)
                out["codec"].append(codec)
            yield pd.DataFrame(out)

    return df.select("media_id", "kind", "payload").mapInPandas(
        run, MEDIA_META
    )


def sample_frames(
    df: DataFrame,
    frame_bytes: int = FRAME_BYTES,
    every_n: int = 1,
) -> DataFrame:
    """Split payload bodies into fixed-size frames, keeping every
    ``every_n``-th (video frame-sampling shape: one input row fans out
    to many bounded rows)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frames, idxs, lens = [], [], [], []
            for mid, buf in zip(
                pdf["media_id"].to_numpy(), pdf["payload"].to_numpy()
            ):
                b = bytes(buf) if buf is not None else b""
                body = b[18:] if b.startswith(_MAGIC) else b
                n_frames = (len(body) + frame_bytes - 1) // frame_bytes
                for k in range(0, n_frames, every_n):
                    chunk = body[k * frame_bytes : (k + 1) * frame_bytes]
                    ids.append(int(mid))
                    idxs.append(k)
                    frames.append(chunk)
                    lens.append(len(chunk))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame": pd.Series(frames, dtype="object"),
                    "frame_len": pd.Series(lens, dtype="int32"),
                }
            )

    return df.select("media_id", "payload").mapInPandas(run, FRAME_SCHEMA)


def extract_features(
    df: DataFrame, dims: int = 8
) -> DataFrame:
    """Deterministic fixed-width feature vector per payload (the
    embedding-extraction shape; a real model would run here)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, vecs = [], []
            for mid, buf in zip(
                pdf["media_id"].to_numpy(), pdf["payload"].to_numpy()
            ):
                b = bytes(buf) if buf is not None else b""
                body = b[18:] if b.startswith(_MAGIC) else b
                # dims stripes of mean byte value, [0, 1): deterministic,
                # length-invariant plumbing stand-in for a real encoder
                vec = []
                stripe = max(1, len(body) // dims)
                for d in range(dims):
                    chunk = body[d * stripe : (d + 1) * stripe]
                    vec.append(
                        (sum(chunk) / len(chunk) / 256.0) if chunk else 0.0
                    )
                ids.append(int(mid))
                # no decimal rounding: sum/len/256 is the same correctly-
                # rounded IEEE double everywhere, so the float32 cast at
                # the Arrow boundary is bit-reproducible (incl. vs SQL
                # engines recomputing the stripe means)
                vecs.append([float(v) for v in vec])
            yield pd.DataFrame({"media_id": ids, "feature": vecs})

    return df.select("media_id", "payload").mapInPandas(run, FEATURE_SCHEMA)
