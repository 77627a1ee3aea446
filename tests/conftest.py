from __future__ import annotations

from contextlib import contextmanager

import pytest


def build_session():
    """The test session; also used by ``--regenerate`` scripts."""
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("ocr_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


@pytest.fixture(scope="session")
def spark():
    s = build_session()
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_transcripts():
    """Deterministic small corpus with whales kept test-sized."""
    from ocr_spark.synth import gen_transcripts

    return gen_transcripts(120, seed=0, whale_lo=60, whale_hi=100)


@pytest.fixture(scope="session")
def sf001_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def tiny_golden(tiny_transcripts):
    from ocr_spark.synth import oracle_extract

    return oracle_extract(tiny_transcripts).reset_index(drop=True)


def norm_spans(v):
    if v is None:
        return []
    return [dict(r.asDict()) if hasattr(r, "asDict") else dict(r) for r in list(v)]


@contextmanager
def sql_conf(spark, conf: dict[str, str]):
    """Set session SQL confs for a block, restoring the old values."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
