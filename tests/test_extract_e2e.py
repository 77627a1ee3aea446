"""North-rule gate: per-turn equality between the Spark pipeline and the
single-process golden oracle, under stable (conv_id, turn_idx) ordering,
with row-count preservation (error rows survive)."""

import pandas as pd
import pytest

from ocr_spark.extract import extract
from tests.conftest import norm_spans, sql_conf

SALTED = dict(partitions=8, salt_threshold=50, salt_buckets=4)


def _run_spark(spark, pdf, **kw):
    return _collect(extract(spark.createDataFrame(pdf), **kw))


def _collect(res):
    out = (
        res.select("conv_id", "turn_idx", "text", "spans", "score", "error")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    return out


def _assert_equal(out: pd.DataFrame, gold: pd.DataFrame):
    assert len(out) == len(gold), "row count must be preserved"
    assert (out.conv_id.values == gold.conv_id.values).all()
    assert (out.turn_idx.values == gold.turn_idx.values).all()
    assert (out.text.values == gold.text.values).all(), "per-turn text equality"
    assert (out.score.values == gold.score.values).all()
    assert (out.error.values == gold.error.values).all()
    for a, b in zip(out.spans, gold.spans):
        assert norm_spans(a) == list(b or []), "per-turn span equality"


def test_pipeline_matches_oracle(spark, tiny_transcripts, tiny_golden):
    out = _run_spark(spark, tiny_transcripts)
    _assert_equal(out, tiny_golden)


def test_pipeline_matches_oracle_with_salting(
    spark, tiny_transcripts, tiny_golden
):
    out = _run_spark(spark, tiny_transcripts, **SALTED)
    _assert_equal(out, tiny_golden)


def test_input_order_invariance(spark, tiny_transcripts, tiny_golden):
    shuffled = tiny_transcripts.sample(frac=1.0, random_state=7).reset_index(
        drop=True
    )
    out = _run_spark(spark, shuffled, partitions=8, salt_threshold=50)
    _assert_equal(out, tiny_golden)


# session conf -> check on the salted UDF stage's partition count, given
# ``partitions=8`` and the session's core count. Under AQE ``partitions``
# is the rebalance's initial count: small partitions merge to at most
# one per core; at cluster scale (here: a tiny advisory size) every
# partition above the advisory size is split, so the stage runs on more
# tasks and a conversation may span them. With AQE off it is exactly 8.
UDF_STAGE_PARTITIONS = {
    "aqe_merges": ({}, lambda n, cores: n <= cores),
    "aqe_splits": (
        {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k"},
        lambda n, cores: n > 8,
    ),
    "aqe_off": (
        {"spark.sql.adaptive.enabled": "false"},
        lambda n, cores: n == 8,
    ),
}


@pytest.mark.parametrize("case", UDF_STAGE_PARTITIONS)
def test_salted_udf_stage_partitions(
    spark, tiny_transcripts, tiny_golden, case
):
    conf, check = UDF_STAGE_PARTITIONS[case]
    with sql_conf(spark, conf):
        ext = extract(spark.createDataFrame(tiny_transcripts), **SALTED)
        n = ext.rdd.getNumPartitions()
        assert check(n, spark.sparkContext.defaultParallelism), n
        _assert_equal(_collect(ext), tiny_golden)


def test_error_rows_preserved(spark, tiny_transcripts):
    out = _run_spark(spark, tiny_transcripts)
    errs = out[out.error != ""]
    assert len(errs) > 0, "fixture must exercise the error channel"
    assert (errs.text == "").all()
    assert len(out) == len(tiny_transcripts)


def test_cjk_text_survives_pipeline_and_report(spark, tmp_path):
    # the reference's domain is Korean text; CJK must survive the full
    # path: extraction (html + plain routes), warehouse write, xlsx
    # report round-trip
    import pandas as pd

    from ocr_spark.io import ExtractWriter
    from ocr_spark.xlsx import read_xlsx

    rows = pd.DataFrame(
        {
            "conv_id": ["k0"] * 4,
            "turn_idx": pd.array(range(4), dtype="int32"),
            "role": ["user"] * 4,
            "text": [
                "<nav>메뉴 항목 링크</nav><article><p>차량 번호판 인식"
                " 결과를 확인합니다 전체 목록은 아래와 같습니다</p>"
                "</article>",
                "안녕하세요 세계 hello world",
                "<p>混合 content 漢字 と かな</p>",
                "번호판: 12가3456 인식 완료",
            ],
            "tool": ["html", None, "html", None],
            "ts": [pd.Timestamp("2026-01-01", tz="UTC")] * 4,
        }
    )
    w = ExtractWriter(str(tmp_path / "wh"))
    w.run(spark, spark.createDataFrame(rows), "rk", n_buckets=2,
          group_size=2)
    got = (
        w.read_ordered(spark)
        .select("turn_idx", "text", "error")
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    assert (got["error"] == "").all()
    assert "차량 번호판 인식 결과를 확인합니다" in got["text"][0]
    assert "메뉴" not in got["text"][0]  # nav boilerplate stripped
    assert got["text"][1] == "안녕하세요 세계 hello world"
    assert "漢字" in got["text"][2]
    assert "12가3456" in got["text"][3]
    out = str(tmp_path / "k.xlsx")
    w.export_xlsx(spark, out)
    cols, rrows = read_xlsx(out)
    texts = [r[cols.index("text")] for r in rrows]
    assert any("차량 번호판" in (t or "") for t in texts)
