"""Checkpoint/resume semantics (O15/O16): manifest-last commits,
crash-injection idempotence, reset."""

import pandas as pd
import pytest

from ocr_spark.io import ExtractWriter


@pytest.fixture()
def writer(tmp_path):
    return ExtractWriter(str(tmp_path / "wh"))


def _final(spark, w):
    return (
        w.read_ordered(spark)
        .select("conv_id", "turn_idx", "text", "error")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def test_crash_then_resume_is_identical(
    spark, tiny_transcripts, tiny_golden, writer, tmp_path
):
    sdf = spark.createDataFrame(tiny_transcripts)
    with pytest.raises(RuntimeError, match="injected crash"):
        writer.run(spark, sdf, "r1", n_buckets=8, group_size=2,
                   fail_after_groups=2)
    partial = writer.committed_buckets(spark, "r1")
    assert 0 < len(partial) < 8, "crash must leave a partial commit"

    resumed = writer.run(spark, sdf, "r1", n_buckets=8, group_size=2)
    assert sorted(partial | set(resumed)) == list(range(8))

    out = _final(spark, writer)
    assert len(out) == len(tiny_golden)
    assert (out.text.values == tiny_golden.text.values).all()


def test_rerun_is_noop(spark, tiny_transcripts, writer):
    sdf = spark.createDataFrame(tiny_transcripts)
    writer.run(spark, sdf, "r1", n_buckets=4, group_size=4)
    again = writer.run(spark, sdf, "r1", n_buckets=4, group_size=4)
    assert again == []


def test_reset_forgets_commits(spark, tiny_transcripts, writer):
    sdf = spark.createDataFrame(tiny_transcripts)
    writer.run(spark, sdf, "r1", n_buckets=4, group_size=4)
    writer.reset("r1")
    assert writer.committed_buckets(spark, "r1") == set()
    redone = writer.run(spark, sdf, "r1", n_buckets=4, group_size=4)
    assert sorted(redone) == [0, 1, 2, 3]
    # overwrite is idempotent: row count unchanged after full redo
    assert writer.read(spark).count() == len(tiny_transcripts)


def test_lineage_counters(spark, tiny_transcripts, tiny_golden, writer):
    sdf = spark.createDataFrame(tiny_transcripts)
    writer.run(spark, sdf, "r1", n_buckets=4, group_size=4)
    lin = writer.lineage(spark).toPandas()
    assert len(lin) == 4
    assert lin.n_turns.sum() == len(tiny_transcripts)
    assert lin.n_errors.sum() == int((tiny_golden.error != "").sum())
    assert (lin.run_id == "r1").all()


def test_accumulator_counters_match_lineage(
    spark, tiny_transcripts, writer
):
    # O15: the live accumulator view must agree with the committed
    # lineage truth after a clean (retry-free local) run
    from ocr_spark.extract import ExtractCounters

    sdf = spark.createDataFrame(tiny_transcripts)
    counters = ExtractCounters(spark)
    writer.run(
        spark, sdf, "racc", n_buckets=4, group_size=2, counters=counters
    )
    lin = writer.lineage(spark).filter("run_id = 'racc'").toPandas()
    snap = counters.snapshot()
    assert snap["n_turns"] == int(lin.n_turns.sum()) == len(tiny_transcripts)
    assert snap["n_errors"] == int(lin.n_errors.sum())
    assert snap["kernel_s"] > 0


def test_warehouse_files_in_conv_turn_order(spark, tiny_transcripts, writer):
    # one sort (bucket, conv_id, turn_idx) serves the partitioned write;
    # every file it leaves must still be in (conv_id, turn_idx) order
    import pyarrow.parquet as pq

    sdf = spark.createDataFrame(tiny_transcripts)
    writer.run(spark, sdf, "ro", n_buckets=4, group_size=2, partitions=8,
               salt_threshold=20, salt_buckets=4)
    files = sorted(writer.data_dir.rglob("*.parquet"))
    assert files
    n = 0
    for f in files:
        t = pq.read_table(f, columns=["conv_id", "turn_idx"])
        keys = list(zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()))
        assert keys == sorted(keys), f"{f.name} is out of order"
        n += len(keys)
    assert n == len(tiny_transcripts)


def test_iceberg_writer_requires_jar(spark, tmp_path):
    # the iceberg_table branch is real code; without the runtime jar it
    # must fail fast at construction, not at first write
    import pytest

    from ocr_spark.io import iceberg_available

    if iceberg_available(spark):
        pytest.skip("Iceberg jar present: fail-fast path not applicable")
    with pytest.raises(RuntimeError, match="Iceberg runtime jar"):
        ExtractWriter(
            str(tmp_path / "wh"),
            iceberg_table="local.db.extracted",
            spark=spark,
        )


def test_iceberg_round_trip(spark, tiny_transcripts, tmp_path):
    # executes only when an Iceberg runtime jar is on the classpath
    # (e.g. spark-submit --packages org.apache.iceberg:...): full run ->
    # resume no-op -> lineage counts, via the writeTo() code path
    import pytest

    from ocr_spark.io import iceberg_available

    if not iceberg_available(spark):
        pytest.skip("no Iceberg runtime jar in this environment")
    spark.conf.set(
        "spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.local.type", "hadoop")
    spark.conf.set(
        "spark.sql.catalog.local.warehouse", str(tmp_path / "icewh")
    )
    w = ExtractWriter(
        str(tmp_path / "wh"), iceberg_table="local.db.extracted", spark=spark
    )
    sdf = spark.createDataFrame(tiny_transcripts)
    done = w.run(spark, sdf, "ri", n_buckets=4, group_size=2)
    assert sorted(done) == [0, 1, 2, 3]
    assert w.run(spark, sdf, "ri", n_buckets=4) == []  # resume no-op
    assert w.read(spark).count() == len(tiny_transcripts)
    lin = w.lineage(spark).toPandas()
    assert int(lin.n_turns.sum()) == len(tiny_transcripts)


def test_run_stats_report(spark, tiny_transcripts, tiny_golden, writer):
    sdf = spark.createDataFrame(tiny_transcripts)
    writer.run(spark, sdf, "r2", n_buckets=4, group_size=2)
    stats = writer.run_stats(spark).filter("run_id = 'r2'").collect()[0]
    assert stats.n_turns == len(tiny_transcripts)
    assert stats.n_errors == int((tiny_golden.error != "").sum())
    assert stats.n_buckets == 4
    assert stats.first_commit <= stats.last_commit


def test_empty_bucket_in_group_commits_cleanly(spark, writer):
    # one conversation -> every other bucket is EMPTY; empty buckets
    # write no files but must still commit a zero-turn lineage row
    # (previously: Path-does-not-exist crash on the metrics read-back)
    import pandas as pd

    one = pd.DataFrame(
        {
            "conv_id": ["only"] * 3,
            "turn_idx": pd.array(range(3), dtype="int32"),
            "role": ["user"] * 3,
            "text": ["plain text body"] * 3,
            "tool": [None] * 3,
            "ts": [pd.Timestamp("2026-01-01", tz="UTC")] * 3,
        }
    )
    done = writer.run(
        spark, spark.createDataFrame(one), "re", n_buckets=4, group_size=4
    )
    assert sorted(done) == [0, 1, 2, 3]
    lin = writer.lineage(spark).filter("run_id = 're'").toPandas()
    assert len(lin) == 4
    assert int(lin.n_turns.sum()) == 3
    assert (lin[lin.n_turns == 0].conv_min.isna()).all()
    # the written lineage schema, nullability included (parquet keeps
    # it as optional/required per column; Spark's reader does not)
    import pyarrow as pa
    import pyarrow.parquet as pq

    (f,) = writer._run_lineage_dir("re").glob("*.parquet")
    schema = pq.read_schema(f)
    assert [(x.name, x.type, x.nullable) for x in schema] == [
        ("run_id", pa.string(), True),
        ("partition_id", pa.int32(), True),
        ("conv_min", pa.string(), True),
        ("conv_max", pa.string(), True),
        ("n_turns", pa.int64(), True),
        ("n_errors", pa.int64(), True),
        ("committed_at", pa.timestamp("ns"), False),
    ]
    # resume: everything (incl. empty buckets) is committed
    assert writer.run(spark, spark.createDataFrame(one), "re",
                      n_buckets=4) == []


def test_lineage_commit_runs_no_python_rdd(spark):
    # the lineage rows are a JVM-local relation: a commit must not
    # parallelize a Python list (a Python-worker job per group)
    from ocr_spark.io import _lineage_rows

    metrics = {
        "conv_min_0": "a", "conv_max_0": "b",
        "n_turns_0": 3, "n_errors_0": 1,
        "conv_min_1": None, "conv_max_1": None,
        "n_turns_1": 0, "n_errors_1": 0,
    }
    df = _lineage_rows(spark, "r", [0, 1], metrics)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
    assert all(f.nullable for f in df.schema.fields[:6])
    got = [r[:6] for r in df.collect()]
    assert got == [("r", 0, "a", "b", 3, 1), ("r", 1, None, None, 0, 0)]


def test_incremental_dedup_store_roundtrip_idempotent(
    spark, sf001_dir, tmp_path
):
    """Cross-run dedup against the committed FingerprintStore: run-1
    commits, the run-2 increment keeps only content run-1 didn't, and
    RE-ingesting run-2 (dedup vs every run except itself, overwrite
    its own partition — the warehouse resume convention) reproduces
    the identical store state: idempotent replay."""
    from ocr_spark.operators.dedup import (
        FingerprintStore,
        band_keys,
        incremental_exact_dedup,
        incremental_minhash_flags,
    )
    from ocr_spark.operators.textops import with_fingerprint

    docs = spark.read.parquet(sf001_dir + "/documents.parquet").select(
        "doc_id", "text"
    )
    run1 = docs.filter("doc_id % 3 != 0")
    run2 = docs.filter("doc_id % 2 = 0")
    store = FingerprintStore(str(tmp_path / "store"))

    # run-1 against the empty store: everything is new
    s1 = incremental_exact_dedup(
        run1, store.committed_fingerprints(spark, exclude_run="r1")
    )
    n1 = s1.count()
    assert n1 > 0
    store.commit_exact(s1, "r1")
    store.commit_bands(band_keys(run1), "r1")
    assert store.committed_fingerprints(spark).count() == n1

    # run-2 increment: survivors are exactly run-2's fingerprints
    # minus run-1's (content-level two-phase semantics)
    s2 = incremental_exact_dedup(
        run2, store.committed_fingerprints(spark, exclude_run="r2")
    )
    surv2 = {(r.fingerprint, r.keep_id, r.n_dups) for r in s2.collect()}
    fp1 = {
        r.fingerprint
        for r in with_fingerprint(run1).select("fingerprint").collect()
    }
    fp2 = {
        r.fingerprint
        for r in with_fingerprint(run2).select("fingerprint").collect()
    }
    assert {f for f, _, _ in surv2} == fp2 - fp1
    store.commit_exact(s2, "r2")
    total = sorted(
        map(tuple, store.committed_fingerprints(spark).collect())
    )

    # idempotent re-ingest: same inputs, same store state
    s2b = incremental_exact_dedup(
        run2, store.committed_fingerprints(spark, exclude_run="r2")
    )
    assert {
        (r.fingerprint, r.keep_id, r.n_dups) for r in s2b.collect()
    } == surv2
    store.commit_exact(s2b, "r2")
    assert (
        sorted(map(tuple, store.committed_fingerprints(spark).collect()))
        == total
    )

    # near-dup screening against the committed band store: every run-2
    # doc whose content run-1 committed verbatim must flag True
    flags = {
        r.doc_id: r.near_dup_committed
        for r in incremental_minhash_flags(
            run2, store.committed_band_keys(spark, exclude_run="r2")
        ).collect()
    }
    overlap_ids = {r.doc_id for r in run2.join(
        run1.select("doc_id"), "doc_id", "left_semi"
    ).collect()}
    assert overlap_ids and all(flags[i] for i in overlap_ids)
    assert not all(flags.values())  # non-overlapping content exists
