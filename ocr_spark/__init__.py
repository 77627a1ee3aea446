"""ocr_spark — a PySpark-native main-content extraction engine.

Re-expresses the operator chain of the reference pipeline (DAU-OCR/OCR:
document -> detect region -> normalize -> N parallel recognizers ->
ensemble vote -> regex validate/correct -> structured record + export +
resume; see /root/reference/README.md:18-29) over *text* payloads carried
in multi-turn conversation transcripts, executed Spark-first:

- one fused Arrow-vectorized pandas UDF for the per-turn kernel chain
  (HTML boilerplate strip, PDF reading-order reconstruction, DOM-heuristic
  span extraction, ensemble vote, validation + fixups),
- explicit conv_id-hash partitioning with salted repartitioning for
  skewed (whale) conversations,
- per-partition lineage rows + counters for checkpoint/resume,
- stable (conv_id, turn_idx) ordering enforced at export/comparison time.

The pure-pandas kernels under ``ocr_spark.kernels`` are Spark-free and
double as the golden oracle used by the pytest suite.
"""

__version__ = "0.1.0"
