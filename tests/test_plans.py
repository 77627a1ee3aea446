"""Physical-plan assertions: the shapes that matter at 100 TB must not
regress — column pruning into the scan, exactly one exchange around the
UDF stage, Arrow (not row-at-a-time) Python execution, broadcast joins
for small dimensions."""

import re

import pandas as pd
from pyspark.sql import functions as F


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _tree(plan: str) -> str:
    """The indented tree section (before the per-node details)."""
    return plan.split("\n\n(1)")[0]


def test_extract_plan_shape(spark, tiny_transcripts, tmp_path):
    from ocr_spark.extract import extract

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(tiny_transcripts).write.parquet(p)
    ext = extract(spark.read.parquet(p), partitions=8, salt_threshold=50)
    plan = _formatted(ext)
    tree = _tree(plan)

    # column pruning reaches the parquet scan: only the 4 needed columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(","))
    assert cols == ["conv_id", "text", "tool", "turn_idx"]

    # exactly ONE exchange (the salted rebalance, which AQE may merge
    # or split); UDF stage is Arrow
    assert tree.count("Exchange") == 1
    assert "REBALANCE_PARTITIONS_BY_COL" in plan
    assert "ArrowEvalPython" in tree
    assert "BatchEvalPython" not in plan  # no row-at-a-time python


def test_extract_map_only_without_partitions(spark, tiny_transcripts):
    from ocr_spark.extract import extract

    ext = extract(spark.createDataFrame(tiny_transcripts))
    tree = _tree(_formatted(ext))
    assert "Exchange" not in tree, "no-shuffle mode must stay map-only"


def test_small_dim_join_broadcasts(spark, tmp_path):
    big = spark.range(0, 10000).select(
        F.col("id"), (F.col("id") % 10).alias("k")
    )
    small = spark.createDataFrame(
        pd.DataFrame({"k": range(10), "name": [f"n{i}" for i in range(10)]})
    )
    j = big.join(F.broadcast(small), "k")
    plan = _formatted(j)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_override_join_is_broadcast(spark, sf001_dir):
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["override_join"](spark, sf001_dir))
    assert "BroadcastHashJoin" in plan


def test_minhash_lsh_never_cartesian(spark, sf001_dir):
    # the whole point of LSH: candidates come from an equi-join on
    # (band, band_key), never an all-pairs product
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["minhash_lsh"](spark, sf001_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_pairs_never_cartesian(spark, sf001_dir):
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["simhash_pairs"](spark, sf001_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_never_cartesian(spark, sf001_dir):
    # contamination = shingle equi-join (semi) + doc_id equi-join back;
    # an eval set must never trigger an all-pairs comparison
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["decontaminate"](spark, sf001_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_topk_is_take_ordered(spark, sf001_dir):
    # top-k must be TakeOrderedAndProject (per-partition heads + driver
    # merge), never a global Sort of the vocabulary
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["vocab_topk"](spark, sf001_dir))
    assert "TakeOrderedAndProject" in plan


def test_stratified_sample_pushes_scan_filter(spark, sf001_dir):
    # pure projection+filter: no Exchange anywhere in the plan
    from ocr_spark.driver_contract import QUERIES

    tree = _tree(_formatted(QUERIES["stratified_sample"](spark, sf001_dir)))
    assert "Exchange" not in tree


def test_ann_ivf_assignment_is_map_only(spark, sf001_dir):
    # the corpus->list assignment (the IVF build hot loop) must be an
    # Arrow-batched map with NO exchange before it; shuffles may only
    # appear downstream (probe join / top-k window)
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["ann_ivf"](spark, sf001_dir))
    tree = _tree(plan)
    assert "MapInPandas" in tree or "MapInPandas" in plan
    # no row-at-a-time python anywhere
    assert "BatchEvalPython" not in plan


def test_cosine_topk_broadcasts_query_side(spark):
    # the brute-force baseline must broadcast its (small, capped) query
    # side: the corpus side is scanned once, never shuffled
    from ocr_spark.operators.similarity import cosine_topk

    emb = spark.range(0, 200).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 3).cast("double"),
            F.lit(1.0),
        ).alias("embedding"),
    )
    q = emb.limit(2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    plan = _formatted(cosine_topk(emb, q, k=3))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_dot_unrolling_capped_for_wide_vectors(spark):
    # regression pin: a 64-term unrolled dot blows codegen method limits
    # and falls back to interpreted evaluation (~2.5x slower than the
    # zip_with lambda) — wide vectors must use the lambda form, narrow
    # ones the unrolled form
    from ocr_spark.operators.similarity import cosine_topk

    def emb_of(dims, n=40):
        return spark.range(0, n).select(
            F.col("id").alias("vec_id"),
            F.array(
                *[((F.col("id") + i) % 7).cast("double") for i in range(dims)]
            ).alias("embedding"),
        )

    def plan_for(dims):
        e = emb_of(dims)
        q = e.limit(2).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
        )
        return _formatted(cosine_topk(e, q, k=3))

    wide = plan_for(64)
    assert "zip_with" in wide and wide.count("element_at") < 10
    narrow = plan_for(8)
    assert "zip_with" not in narrow and narrow.count("element_at") >= 8


def test_bm25_take_ordered_and_no_join_blowup(spark, sf001_dir):
    # final top-k must be TakeOrderedAndProject (never a global sort);
    # the only non-equi join allowed is the deliberate single-row
    # corpus-stats broadcast (BroadcastNestedLoopJoin over 1 row)
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["bm25_topk"](spark, sf001_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    tree = _tree(plan)
    assert tree.count("BroadcastNestedLoopJoin") == 1


def test_tfidf_keywords_window_no_global_sort(spark, sf001_dir):
    # per-doc window (partitioned sort), never a single-partition global
    # Sort; the one BroadcastNestedLoopJoin is the 1-row doc-count
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["tfidf_keywords"](spark, sf001_dir))
    assert "CartesianProduct" not in plan
    tree = _tree(plan)
    assert "Window" in tree
    assert tree.count("BroadcastNestedLoopJoin") == 1
    # no rangepartitioning (global sort) anywhere
    assert "rangepartitioning" not in plan


def test_domain_mix_corpus_join_broadcasts_rates(spark, sf001_dir):
    # the derived per-domain thresholds join back via broadcast; the
    # corpus side must not shuffle for the join
    from ocr_spark.driver_contract import QUERIES

    tree = _tree(_formatted(QUERIES["domain_mix"](spark, sf001_dir)))
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_semantic_dedup_never_cartesian(spark, sf001_dir):
    # pair generation stays an LSH bucket equi-join and the survivor
    # anti-join is an equi hash join on doc_id
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["semantic_dedup"](spark, sf001_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pmi_bigrams_take_ordered(spark, sf001_dir):
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["pmi_bigrams"](spark, sf001_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # exactly two deliberate 1-row broadcasts (bigram total, token total)
    assert _tree(plan).count("BroadcastNestedLoopJoin") == 2


def test_web_curation_chain_never_cartesian(spark, sf001_dir):
    # the full line-dedup -> exact-dedup -> decontaminate chain must
    # stay equi-joins end-to-end in ONE plan
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["web_curation"](spark, sf001_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_substring_dedup_never_cartesian(spark, sf001_dir):
    # span dedup has NO pairwise document comparison by design: gram-df
    # hash-agg + equi join-back + per-doc agg; any nested-loop join
    # here would mean an accidental all-pairs blowup
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["substring_dedup"](spark, sf001_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "rangepartitioning" not in plan  # no global sort


def test_bigram_logprob_no_global_sort(spark, sf001_dir):
    # bigram prob table joins are all equi hash joins; the single
    # deliberate 1-row broadcast is the token-total crossJoin
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["bigram_logprob"](spark, sf001_dir))
    assert "CartesianProduct" not in plan
    assert _tree(plan).count("BroadcastNestedLoopJoin") == 1
    assert "rangepartitioning" not in plan


def test_url_curation_single_agg_no_join(spark, sf001_dir):
    # canonicalize + blocklist are pure projections; the only shuffle
    # is the canonical-key dedup hash-agg (plus at most the
    # single-file parallelism guard) — no join of any kind
    from ocr_spark.driver_contract import QUERIES

    tree = _tree(_formatted(QUERIES["url_curation"](spark, sf001_dir)))
    assert "Join" not in tree
    assert "HashAggregate" in tree
    assert tree.count("Exchange") <= 2


def test_dsir_broadcasts_ratio_and_take_ordered(spark, sf001_dir):
    # the n_buckets-sized log-ratio table must broadcast onto the raw
    # feature stream (the corpus never shuffles for the scoring join)
    # and the Gumbel top-k must be TakeOrdered, never a global sort
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["dsir_select"](spark, sf001_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_conv_ops_single_shuffle_no_join(spark, sf001_dir):
    # both conversation ops are one conv-keyed shuffle + linear folds
    # (+ conv_dedup's fingerprint agg); no join, no window sort, no
    # rangepartitioning anywhere
    from ocr_spark.driver_contract import QUERIES

    # exchange budget: the single-file parallelism-guard repartition +
    # the conv-keyed agg (+ conv_dedup's fingerprint agg). The pack
    # STATIC plan shows the small/whale union duplicating both (4);
    # at runtime AQE collapses the duplicates to ReusedExchange —
    # asserted below, so the input is scanned and shuffled once.
    budget = {"pack_conversations": 4, "conv_dedup": 3}
    for key, max_ex in budget.items():
        df = QUERIES[key](spark, sf001_dir)
        plan = _formatted(df)
        tree = _tree(plan)
        assert "Join" not in tree, key
        assert "rangepartitioning" not in plan, key
        assert tree.count("Exchange") <= max_ex, key
        if key == "pack_conversations":
            df.collect()
            final = _tree(_formatted(df))
            assert "ReusedExchange" in final


def test_winnow_is_map_only(spark, sf001_dir):
    # winnowing is doc-local: the only Exchange allowed is the
    # single-file parallelism-guard repartition — no aggregation
    # shuffle, no distinct shuffle (selection folds inside the row)
    from ocr_spark.driver_contract import QUERIES

    tree = _tree(_formatted(QUERIES["winnow"](spark, sf001_dir)))
    assert tree.count("Exchange") <= 1
    assert "HashAggregate" not in tree
    assert "Sort" not in tree


def test_ccnet_approx_path_has_no_full_corpus_buffer(spark, sf001_dir):
    # the default (scale) threshold mode must aggregate via the
    # mergeable t-digest approx_percentile, never the exact percentile
    # whose ONE aggregation buffer holds every corpus value; the
    # exact-percentile expression is reserved for the oracle gate mode
    import re as _re

    from ocr_spark.operators.textops import ccnet_buckets

    docs = spark.read.parquet(sf001_dir + "/documents.parquet")
    plan = _formatted(ccnet_buckets(docs))
    assert "approx_percentile" in plan
    assert not _re.search(r"(?<!approx_)percentile\(", plan)
    plan_exact = _formatted(ccnet_buckets(docs, exact=True))
    assert _re.search(r"(?<!approx_)percentile\(", plan_exact)


def test_nb_quality_broadcasts_llr_no_cartesian_on_corpus(spark, sf001_dir):
    # the 10k-bucket LLR table must broadcast onto the doc feature
    # stream — the scored corpus never shuffles for the scoring join;
    # the only corpus-sized shuffle is the per-doc agg
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["nb_quality"](spark, sf001_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan


def test_incremental_minhash_never_pairwise(spark, sf001_dir):
    # the committed-store screen is a semi-join on (band, band_key) —
    # no pairwise candidate join, no cartesian anywhere
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["incremental_minhash"](spark, sf001_dir))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "rangepartitioning" not in plan


def test_kmeans_assignment_is_pure_map(spark, sf001_dir):
    # centroids are driver-known literals, so one assignment pass is a
    # pure map over the embeddings scan: no join, no window, no
    # aggregation, ZERO exchanges — the shape that lets each Lloyd
    # iteration touch the corpus exactly twice (assign map + update agg)
    from ocr_spark.operators.clustering import _assign

    emb = (
        spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .withColumn(
            "nrm",
            F.sqrt(
                F.aggregate(
                    F.transform(
                        "embedding",
                        lambda x: x.cast("double") * x.cast("double"),
                    ),
                    F.lit(0.0),
                    lambda a, v: a + v,
                )
            ),
        )
    )
    cents = [(0, [0.1] * 64), (1, [0.2] * 64)]
    tree = _tree(_formatted(_assign(emb, cents, 64)))
    assert "Exchange" not in tree
    assert "Join" not in tree
    assert "HashAggregate" not in tree
    assert "Sort" not in tree


def test_hash_split_is_pure_projection(spark):
    from ocr_spark.operators.textops import hash_split

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(100), "text": ["x"] * 100})
    )
    out = hash_split(df, {"val": 0.05, "test": 0.05})
    tree = _tree(_formatted(out))
    assert "Exchange" not in tree, "split must not shuffle"
    assert "ArrowEvalPython" not in tree and "BatchEvalPython" not in tree


def test_shard_assign_single_partitioned_window_exchange(spark):
    from ocr_spark.operators.textops import shard_assign

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    tree = _tree(_formatted(shard_assign(df, n_shards=8)))
    # exactly one shuffle (hashpartitioning on shard for the window);
    # crucially NOT a single-partition global sort
    assert tree.count("Exchange") == 1
    assert "SinglePartition" not in _formatted(shard_assign(df, 8))


def test_char_entropy_and_c4_rules_are_pure_map(spark):
    from ocr_spark.operators.textops import c4_rules, char_entropy

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(50), "text": ["a b c."] * 50})
    )
    for out in (char_entropy(df), c4_rules(df)):
        tree = _tree(_formatted(out))
        assert "Exchange" not in tree
        assert "ArrowEvalPython" not in tree
        assert "BatchEvalPython" not in tree


def test_incremental_bloom_probe_is_broadcast(spark):
    from ocr_spark.operators.dedup import (
        exact_dedup,
        incremental_exact_dedup,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(30), "text": [f"t {i}" for i in range(30)]}
        )
    )
    committed = exact_dedup(docs.limit(10))
    plan = _formatted(
        incremental_exact_dedup(docs, committed, bloom_bits=1 << 20)
    )
    tree = _tree(plan)
    # the bitmap probe must be a broadcast join (no shuffle to probe)
    assert "BroadcastHashJoin" in tree or "BroadcastNestedLoop" in tree
    assert "bit_or" in plan  # bitmap built by one hash agg


def _corpus_window_specs(df) -> list[str]:
    """windowspecdefinition(...) clauses of windows that run over
    corpus rows — identified by the doc_id tie-break in their ORDER
    BY (the tiny count/offset-table windows order by bucket/qv
    alone)."""
    import re

    tree = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", tree)
    return [s for s in specs if "doc_id" in s]


def test_token_budget_mix_window_is_bucket_partitioned(spark):
    """The running sum must partition by (domain, bucket) — a window
    partitioned by the domain alone would sort each whole domain in
    ONE task (parallelism capped at the domain count, the whole
    corpus sorted to keep a budget-sized prefix)."""
    from ocr_spark.driver_contract import q_token_budget_mix

    df = q_token_budget_mix(spark, "/root/testdata/sf0.001")
    specs = _corpus_window_specs(df)
    assert specs, "no corpus-row window found"
    for s in specs:
        assert "bucket" in s, s
    tree = df._jdf.queryExecution().executedPlan().toString()
    # the bucket-offset prune table reaches the corpus via broadcast
    assert "BroadcastHashJoin" in tree


def test_quality_select_window_is_level_partitioned(spark):
    """The rank must partition by (domain, quality level) — the
    count-table design; a (domain)-only row_number sort would be the
    monolithic per-domain shape this operator exists to avoid."""
    from ocr_spark.driver_contract import q_quality_select

    df = q_quality_select(spark, "/root/testdata/sf0.001")
    specs = _corpus_window_specs(df)
    assert specs, "no corpus-row window found"
    for s in specs:
        assert "qv" in s, s
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in tree


def test_mix_pipeline_composes_pruned_shapes(spark):
    """The composition inherits both pruned designs: every corpus-row
    window is fine-grained (bucket or quality-level partitioning) and
    all three prune/level tables broadcast."""
    from ocr_spark.driver_contract import q_mix_pipeline

    df = q_mix_pipeline(spark, "/root/testdata/sf0.001")
    specs = _corpus_window_specs(df)
    assert specs, "no corpus-row window found"
    for s in specs:
        assert "bucket" in s or "qv" in s, s
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert tree.count("BroadcastHashJoin") >= 2


def test_pq_encode_is_pure_map(spark, sf001_dir):
    # with driver-known codebooks the encode is scan -> project ->
    # generate: no join, no window, no aggregation, ZERO exchanges —
    # the shape that makes PQ encoding a free pass over 100 TB
    from ocr_spark.operators.pq import pq_encode

    emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    books = [
        [(0, [0.1] * 16), (1, [0.2] * 16)]
        for _ in range(4)
    ]
    tree = _tree(_formatted(pq_encode(
        emb, m=4, ksub=2, iters=1, vec_dims=64, codebooks=books
    )))
    assert "Exchange" not in tree
    assert "Join" not in tree
    assert "HashAggregate" not in tree
    assert "Sort" not in tree


def test_pq_ann_broadcasts_queries_no_cartesian(spark, sf001_dir):
    # the ADC scan is a BROADCAST nested-loop of the tiny LUT-carrying
    # query side against the encoded corpus — never a shuffled
    # cartesian; the only exchange is the per-query top-k window
    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["ann_pq"](spark, sf001_dir))
    tree = _tree(plan)
    assert "BroadcastNestedLoopJoin" in tree
    assert "CartesianProduct" not in tree


def test_quality_ensemble_all_legs_live(spark, sf001_dir):
    # every leg of the ensemble must actually gate something on the
    # synthetic corpus (a threshold that never fires is a dead leg),
    # and the keep flag must equal the AND of the three thresholds
    # recomputed from the emitted signals
    from ocr_spark.driver_contract import QUERIES

    rows = QUERIES["quality_ensemble"](spark, sf001_dir).collect()
    assert len(rows) == 500
    for r in rows:
        assert r.keep == (
            r.gopher_pass and r.quality >= 0.6 and r.oov_rate <= 0.45
        )
    assert any(not r.gopher_pass for r in rows)
    assert any(r.quality < 0.6 for r in rows)
    assert any(r.oov_rate > 0.45 for r in rows)
    kept = sum(r.keep for r in rows)
    assert 0 < kept < 500


def test_sft_pipeline_is_two_windows_one_plan(spark, sf001_dir):
    # the SFT data path composes as ONE declarative plan: exactly two
    # hash exchanges (the conv-keyed lag window, then the shard-keyed
    # pack cumsum window), no join, no aggregation, no whale rows
    import re

    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["sft_pipeline"](spark, sf001_dir))
    tree = _tree(plan)
    parts = re.findall(r"hashpartitioning\(([^,)]*)", plan)
    assert len(parts) == 2, parts
    assert any("conv_id" in p for p in parts)
    assert any("shard" in p for p in parts)
    assert "Join" not in tree
    assert "HashAggregate" not in tree
    assert "collect_list" not in plan


def test_ivf_pq_corpus_never_hash_shuffles(spark, sf001_dir):
    # IVF+PQ scale shape: coarse assignment is mapInPandas (map-only),
    # encode chains as projections, the LUT-carrying probe side
    # BROADCASTS into the cid join — so every hash-shuffle in the plan
    # is a per-QUERY window (keyed q_id / q_id+vec shortlist), never a
    # corpus repartition
    import re

    from ocr_spark.driver_contract import QUERIES

    plan = _formatted(QUERIES["ann_ivf_pq"](spark, sf001_dir))
    tree = _tree(plan)
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree
    # hashpartitioning arguments live in the detail section
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert parts, "expected the per-query rank windows"
    for p in parts:
        assert "q_id" in p, p
