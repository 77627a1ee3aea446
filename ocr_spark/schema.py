"""Schemas for the extraction engine (SURVEY.md §1.2).

Input shape is fixed by BASELINE.json ``input_hint``; output is the graft
of the reference's per-image result record (/root/reference
readmeImage/result.png: 파일명/처리일시/모델별 결과/최종선택결과/정확도/오류메시지)
onto transcript turns.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# transcripts — primary input (BASELINE.json input_hint)
# ---------------------------------------------------------------------------
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# Per-extractor candidate — graft of the reference's 모델별 결과
# {모델명, 결과, 신뢰도} array (readmeImage/result.png RAW JSON).
CANDIDATE = T.StructType(
    [
        T.StructField("extractor", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

SPAN = T.StructType(
    [
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
    ]
)

# Struct returned by the fused extraction UDF (everything computed per turn).
EXTRACT_RESULT = T.StructType(
    [
        T.StructField("candidates", T.ArrayType(CANDIDATE), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("error", T.StringType(), False),
    ]
)
