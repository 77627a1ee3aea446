"""Pipeline-semantics tests: dedup, salting balance, ordering
contract, synth determinism (SURVEY.md §5.2.3)."""

import pandas as pd
from pyspark.sql import functions as F

from ocr_spark.operators.relational import dedup_turns
from ocr_spark.partitioning import repartition_salted
from ocr_spark.synth import gen_transcripts
from tests.conftest import sql_conf


def test_dedup_duplicate_turns(spark, tiny_transcripts):
    sdf = spark.createDataFrame(tiny_transcripts)
    doubled = sdf.unionByName(sdf.limit(50))
    out = dedup_turns(doubled)
    assert out.count() == len(tiny_transcripts)


def test_whale_detection_and_salting_balance(spark):
    # one whale among minnows: without salting it fills one partition
    def conv(cid, n):
        return pd.DataFrame(
            {
                "conv_id": cid,
                "turn_idx": pd.array(range(n), dtype="int32"),
                "role": "user",
                "text": "plain text payload",
                "tool": None,
                "ts": pd.Timestamp("2026-01-01", tz="UTC"),
            }
        )

    data = pd.concat(
        [conv("whale", 400)] + [conv(f"m{i:03d}", 3) for i in range(30)]
    ).reset_index(drop=True)
    sdf = spark.createDataFrame(data)

    # turn-block salting: 400 turns / block size 50 = 8 distinct salt
    # keys, so the whale spreads over several partitions and no single
    # partition holds a block larger than the threshold allows
    salted = repartition_salted(sdf, 32, salt_buckets=8, salt_threshold=50)
    pid = salted.withColumn("pid", F.spark_partition_id())
    # AQE would merge these 490 rows into one partition: look at the
    # hash placement itself, with coalescing off
    with sql_conf(
        spark, {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
    ):
        sizes = (
            pid.filter(F.col("conv_id") == "whale")
            .groupBy("pid")
            .count()
            .collect()
        )
        # minnows (3 turns, below one block) keep salt 0: fully colocated
        minnow = (
            pid.filter(F.col("conv_id") == "m000")
            .select("pid")
            .distinct()
            .count()
        )
    assert len(sizes) >= 4, "whale turns must spread over several partitions"
    assert max(r["count"] for r in sizes) < 400
    assert minnow == 1


def test_synth_determinism():
    a = gen_transcripts(50, seed=3, whale_lo=30, whale_hi=40)
    b = gen_transcripts(50, seed=3, whale_lo=30, whale_hi=40)
    pd.testing.assert_frame_equal(a, b)
    c = gen_transcripts(50, seed=4, whale_lo=30, whale_hi=40)
    assert not a.text.equals(c.text)


def test_skew_profile_has_whales():
    pdf = gen_transcripts(400, seed=0, whale_lo=300, whale_hi=500)
    sizes = pdf.groupby("conv_id").size()
    assert sizes.max() >= 300, "1% whale tail expected at n=400"
    assert sizes.min() >= 1 and sizes.quantile(0.5) <= 20
