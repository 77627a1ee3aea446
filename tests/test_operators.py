"""Operator spot checks on constructed data (dedup, similarity,
textops). The cross-engine value checks live in the driver contract;
these tests pin the *semantics* on hand-built cases."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from ocr_spark.operators.similarity import cosine_topk
from ocr_spark.operators.textops import (
    with_fingerprint,
    with_lang_guess,
    with_quality,
    with_token_count,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )


def test_exact_dedup_groups_ws_insensitive(spark):
    docs = _docs(
        spark,
        ["hello world", "Hello   world", "different entirely", "hello world"],
    )
    out = exact_dedup(docs).collect()
    groups = {r.keep_id: r.n_dups for r in out}
    assert groups == {0: 3, 2: 1}


def test_ngram_jaccard_finds_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " tonight"
    far = "completely unrelated text about spark shuffle partitions here"
    out = ngram_jaccard_pairs(
        _docs(spark, [base, near, far]), threshold=0.3
    ).collect()
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in out}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.8
    assert all(far_id not in k for k in pairs for far_id in (2,))


def test_minhash_lsh_recalls_near_dup(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near = base + "extra"
    far = "one two three four five six seven eight nine ten " * 3
    out = minhash_lsh_pairs(
        _docs(spark, [base, near, far]), threshold=0.3
    ).collect()
    assert {(r.doc_a, r.doc_b) for r in out} == {(0, 1)}


def test_minhash_estimate_agreement_semantics(spark):
    """Signature-agreement scoring: identical docs match on all 16
    components (est 1.0); a near-dup pair matches on SOME but not all;
    an unrelated doc never becomes a candidate; and every pair the
    exact verify keeps appears in the estimate's candidate superset."""
    from ocr_spark.operators.dedup import (
        minhash_estimate_pairs, minhash_lsh_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near = base + "extra"
    far = "one two three four five six seven eight nine ten " * 3
    docs = _docs(spark, [base, base, near, far])
    est = {
        (r.doc_a, r.doc_b): r for r in
        minhash_estimate_pairs(docs, min_match=1).collect()
    }
    assert est[(0, 1)].n_match == 16
    assert est[(0, 1)].est_jaccard == 1.0
    assert 1 <= est[(0, 2)].n_match < 16
    assert not any(3 in p for p in est), "far doc never a candidate"
    exact = {
        (r.doc_a, r.doc_b) for r in
        minhash_lsh_pairs(docs, threshold=0.3).collect()
    }
    assert exact <= set(est), "estimate candidates superset exact pairs"


def test_simhash_similar_docs_close(spark):
    a = "spark shuffle partition arrow batch kernel vector column"
    b = a + " extra"
    c = "totally different words entirely unrelated content here now"
    fp = {r.doc_id: r.simhash for r in simhash(_docs(spark, [a, b, c])).collect()}

    def ham(x, y):
        return bin(x ^ y).count("1")

    assert ham(fp[0], fp[1]) < ham(fp[0], fp[2])


def test_simhash_hamming_pairs_finds_near_identical(spark):
    from ocr_spark.operators.dedup import simhash_hamming_pairs

    base = " ".join(f"token{i}" for i in range(60))
    docs = _docs(
        spark,
        [
            base,                       # 0
            base + " tail",             # 1: near-identical to 0
            base,                       # 2: identical to 0
            "completely different words with nothing shared at all "
            "other vocabulary entirely disjoint from the base corpus",
        ],
    )
    out = simhash_hamming_pairs(docs, bits=64, bands=4, max_hamming=3)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in out.collect()}
    assert pairs[(0, 2)] == 0          # identical docs: hamming 0
    assert (0, 1) in pairs             # near-identical within threshold
    assert all(3 not in p for p in pairs)  # disjoint doc never pairs


def test_simhash_hamming_pairs_parameter_guards(spark):
    import pytest
    from ocr_spark.operators.dedup import simhash_hamming_pairs

    docs = _docs(spark, ["a b c"])
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_hamming_pairs(docs, bits=64, bands=4, max_hamming=4)
    with pytest.raises(ValueError, match="divide"):
        simhash_hamming_pairs(docs, bits=64, bands=5)


def test_cosine_topk_exact_neighbor(spark):
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2, 3],
                "embedding": [
                    [1.0, 0.0, 0.0],
                    [0.99, 0.1, 0.0],   # nearest to 0
                    [0.0, 1.0, 0.0],
                    [-1.0, 0.0, 0.0],   # opposite
                ],
            }
        )
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    out = cosine_topk(emb, q, k=3).orderBy("rank").collect()
    assert [r.vec_id for r in out] == [1, 2, 3]
    assert out[0].cos > 0.99 and out[2].cos == -1.0


def test_cosine_topk_rejects_oversized_query_set(spark):
    import pytest

    emb = spark.range(0, 30).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    q = emb.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    with pytest.raises(ValueError, match="brute-force baseline"):
        cosine_topk(emb, q, k=3, max_queries=10)


def test_sign_buckets_multi_rejects_out_of_range_bands(spark):
    import pytest
    from ocr_spark.operators.similarity import sign_buckets_multi

    emb = spark.range(0, 10).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(-1.0), F.lit(0.5)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="coordinates"):
        sign_buckets_multi(emb, dims=2, tables=4)


def test_textops_basics(spark):
    docs = _docs(spark, ["the quick fox is on the hill", "xyzzy plugh"])
    t = with_token_count(docs).collect()
    assert {r.doc_id: r.n_tokens for r in t} == {0: 7, 1: 2}
    l = with_lang_guess(docs).collect()
    assert {r.doc_id: r.lang_guess for r in l} == {0: "en", 1: "unknown"}
    q = {r.doc_id: r.quality for r in with_quality(docs).collect()}
    assert q[0] > q[1]
    fp = with_fingerprint(docs).collect()
    assert all(len(r.fingerprint) == 32 for r in fp)


def test_near_dup_groups_connected_components(spark):
    from ocr_spark.operators.dedup import near_dup_groups

    base = " ".join(f"w{i}" for i in range(40))
    other = " ".join(f"z{i}" for i in range(40))
    docs = _docs(
        spark,
        [
            base,                 # 0 \
            base + " tail",       # 1  > one component, min id 0
            base + " more tail",  # 2 /
            other,                # 3 \ second component, min id 3
            other + " x",         # 4 /
            "totally unrelated isolated text with its own words only",
        ],
    )
    out = {
        r.doc_id: r.group_id
        for r in near_dup_groups(docs, threshold=0.5).collect()
    }
    assert out[0] == out[1] == out[2] == 0
    assert out[3] == out[4] == 3
    assert 5 not in out  # isolated docs are not in any group


def test_gopher_rules_composite_gate(spark):
    from ocr_spark.operators.textops import with_gopher_rules

    good = (
        "the quick brown fox jumps over a lazy dog and then it runs "
        "back to the barn with some friends for dinner tonight again"
    )
    docs = _docs(
        spark,
        [
            good,                                   # passes everything
            "short of the a",                       # too few words
            good + " ##tag " * 5,                   # symbol-heavy
            "- the item one\n- the item two",       # all bullet lines
            "x1 y2 " * 15,                          # no stopwords/alpha mix
        ],
    )
    out = {
        r.doc_id: r
        for r in with_gopher_rules(docs, min_words=10).collect()
    }
    assert out[0].gopher_pass
    assert not out[1].gopher_pass          # word_count < 10
    assert out[2].symbol_ratio > 0.1 and not out[2].gopher_pass
    assert out[3].bullet_ratio == 1.0 and not out[3].gopher_pass
    assert not out[4].gopher_pass          # stop_hits == 0
    assert out[0].mean_word_len > 3.0 and out[0].alpha_ratio == 1.0


def test_as_of_join_point_in_time_semantics(spark):
    from ocr_spark.operators.relational import as_of_join

    left = spark.createDataFrame(
        pd.DataFrame(
            {"lid": [0, 1, 2, 3], "k": ["u"] * 4, "ts": [0, 1, 5, 10]}
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["u"] * 4,
                "ts": [1, 5, 5, 7],
                "rid": [1, 2, 3, 4],
                "v": ["a", "b", "c", "d"],
            }
        )
    )
    out = {
        r.lid: r.mv
        for r in as_of_join(
            left, right, key="k", ts="ts", payload={"v": "mv"}
        ).collect()
    }
    assert out[0] is None          # before any marker
    assert out[1] == "a"           # equal ts IS matched (<= semantics)
    assert out[2] == "c"           # tie at ts=5: higher rid wins
    assert out[3] == "d"           # latest earlier marker


def test_sessionize_gap_segmentation(spark):
    from ocr_spark.operators.relational import sessionize

    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": range(5),
                "user_id": [1, 1, 1, 1, 2],
                "ts": pd.to_datetime(
                    [
                        "2026-01-01 00:00:00",
                        "2026-01-01 00:10:00",
                        "2026-01-01 00:50:00",  # 40-min gap: new session
                        "2026-01-01 01:00:00",
                        "2026-01-01 00:00:00",  # other user: own session
                    ]
                ),
            }
        )
    )
    out = {
        (r.user_id, r.event_id): r.session_idx
        for r in sessionize(ev, gap_minutes=30).collect()
    }
    assert out[(1, 0)] == 0 and out[(1, 1)] == 0
    assert out[(1, 2)] == 1 and out[(1, 3)] == 1
    assert out[(2, 4)] == 0


@pytest.mark.parametrize(
    "n, shuffled",
    [(60, False), (10_000, True)],
    ids=["sorted_chain_60", "shuffled_path_10k"],
)
def test_connected_components_long_path_converges(spark, n, shuffled):
    """A path graph (diameter n - 1) must converge inside the default
    20-round budget to one component labelled 0 — plain
    min-propagation needs diameter rounds. Shuffled ids are the hard
    case: label propagation with pointer jumping still had 371 labels
    changing after 20 rounds on the 10^4-node path. A starved budget
    must raise instead of returning truncated groups."""
    import random

    from ocr_spark.operators.dedup import connected_components

    ids = list(range(n))
    if shuffled:
        random.Random(0).shuffle(ids)
    path = spark.createDataFrame(
        pd.DataFrame({"doc_a": ids[:-1], "doc_b": ids[1:]})
    )
    out = {r.doc_id: r.group_id for r in connected_components(path).collect()}
    assert len(out) == n and set(out.values()) == {0}

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(path, max_iters=2)


def test_stratified_sample_rates(spark):
    from ocr_spark.operators.textops import stratified_sample

    docs = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("a")).otherwise(F.lit("b"))
        .alias("stratum"),
    )
    out = stratified_sample(docs, "stratum", {"a": 0.5}).groupBy(
        "stratum"
    ).count().collect()
    by = {r.stratum: r["count"] for r in out}
    assert "b" not in by, "strata without a rate are dropped"
    assert 0.4 < by["a"] / 1500 < 0.6


def test_vocab_topk_order_and_boundary(spark):
    from ocr_spark.operators.textops import vocab_topk

    docs = _docs(spark, ["x x x y y z", "y x w", ""])
    out = vocab_topk(docs, k=3).collect()
    assert [(r.token, r.n) for r in out] == [("x", 4), ("y", 3), ("w", 1)]


def test_ivf_topk_recalls_true_neighbors(spark):
    import numpy as np

    from ocr_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.RandomState(7)
    base = rng.randn(8, 8)
    vecs = []
    for i in range(200):
        v = base[i % 8] + 0.05 * rng.randn(8)  # 8 tight clusters
        vecs.append([float(x) for x in v])
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(200), "embedding": vecs})
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact = cosine_topk(emb, q, k=5).collect()
    approx = ivf_topk(emb, q, k=5, n_centroids=16, n_probe=4).collect()
    truth = {(r.q_id, r.vec_id) for r in exact}
    got = {(r.q_id, r.vec_id) for r in approx}
    recall = len(truth & got) / len(truth)
    # clustered data + 4/16 probes: near-perfect recall expected
    assert recall >= 0.8, f"IVF recall {recall}"
    assert all(r.rank <= 5 for r in approx)


def test_pack_sequences_contiguous_within_shard(spark):
    from ocr_spark.operators.textops import pack_sequences

    # 6 docs, 1 shard, seq_len 10; token counts 4,4,4,4,4,4
    docs = _docs(spark, ["a b c d"] * 6)
    out = pack_sequences(docs, seq_len=10, shards=1).orderBy(
        "doc_id"
    ).collect()
    # cum_before: 0,4,8,12,16,20 -> seq 0,0,0,1,1,2; offsets 0,4,8,2,6,0
    assert [(r.seq_idx, r.seq_offset) for r in out] == [
        (0, 0), (0, 4), (0, 8), (1, 2), (1, 6), (2, 0),
    ]
    # shards are independent: same docs over 2 shards restart packing
    out2 = pack_sequences(docs, seq_len=10, shards=2).collect()
    per_shard = {}
    for r in sorted(out2, key=lambda r: (r.shard, r.doc_id)):
        per_shard.setdefault(r.shard, []).append(r.seq_offset)
    assert all(v[0] == 0 for v in per_shard.values())


def test_repetition_signals(spark):
    from ocr_spark.operators.textops import with_repetition

    docs = _docs(
        spark,
        [
            "a b a b a b",            # heavy bigram repetition
            "x y z w q r",            # no repetition
            "line\nline\nline\nother",  # duplicated lines
            "",                        # empty: all zeros, no crash
            "one",                     # shorter than any n-gram
        ],
    )
    out = {r.doc_id: r for r in with_repetition(docs).collect()}
    assert out[0].rep_2gram == 0.6 and out[0].rep_3gram == 0.5
    assert out[1].rep_2gram == 0.0
    assert out[2].rep_line == 0.5
    assert out[3].rep_2gram == out[3].rep_line == 0.0
    assert out[4].rep_2gram == 0.0


def test_line_dedup_removes_cross_doc_boilerplate(spark):
    from ocr_spark.operators.dedup import line_dedup

    docs = _docs(
        spark,
        [
            "unique alpha\nSHARED BANNER\nunique beta",
            "SHARED BANNER\nunique gamma",
            "only unique content here",
            "",                       # empty doc survives as a row
            "  \n SHARED BANNER \n",  # ws-only lines ignored; trim match
        ],
    )
    out = {r.doc_id: r for r in line_dedup(docs, max_df=1).collect()}
    assert len(out) == 5, "rows never dropped"
    assert out[0].text_clean == "unique alpha\nunique beta"
    assert out[0].n_kept == 2 and out[0].n_dropped == 1
    assert out[1].text_clean == "unique gamma"
    assert out[2].text_clean == "only unique content here"
    assert out[2].n_dropped == 0
    assert out[3].text_clean == "" and out[3].n_kept == 0
    assert out[4].text_clean == "" and out[4].n_dropped == 1


def test_line_dedup_max_df_threshold(spark):
    from ocr_spark.operators.dedup import line_dedup

    docs = _docs(spark, ["twice shared\na0", "twice shared\nb1", "c2"])
    # max_df=2: a line in exactly 2 docs is still kept
    out = {
        r.doc_id: r.text_clean
        for r in line_dedup(docs, max_df=2).collect()
    }
    assert out[0] == "twice shared\na0"
    assert out[1] == "twice shared\nb1"


def test_sft_examples_rolling_context_and_edges(spark):
    """One example per assistant turn; contexts are the previous <= 3
    turns as 'role: text' lines; a conversation-OPENING assistant turn
    yields context '' with n_ctx 0; user turns never become targets;
    context windows never cross conversations."""
    from ocr_spark.operators.textops import sft_examples

    rows = [
        # conv 0: u0 a1 u2 a3 u4 a5 — second assistant turn sees 3
        # turns, first sees 1
        (0, 0, "user", "hi"),
        (0, 1, "assistant", "hello"),
        (0, 2, "user", "how are you"),
        (0, 3, "assistant", "fine"),
        (0, 4, "user", "bye"),
        (0, 5, "assistant", "goodbye"),
        # conv 1: assistant OPENS (zero context), then user only
        (1, 0, "assistant", "welcome"),
        (1, 1, "user", "thanks"),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id long, turn_idx int, role string, text string"
    )
    out = {
        (r.conv_id, r.turn_idx): r
        for r in sft_examples(turns, context_turns=3).collect()
    }
    assert set(out) == {(0, 1), (0, 3), (0, 5), (1, 0)}
    assert out[(0, 1)].context == "user: hi"
    assert out[(0, 1)].n_ctx == 1
    assert out[(0, 3)].context == (
        "user: hi\nassistant: hello\nuser: how are you"
    )
    assert out[(0, 3)].n_ctx == 3
    assert out[(0, 5)].context == (
        "user: how are you\nassistant: fine\nuser: bye"
    )
    assert out[(0, 5)].target == "goodbye"
    assert out[(1, 0)].context == "" and out[(1, 0)].n_ctx == 0


def test_sft_examples_is_one_window_no_conv_materialization(spark):
    """Scale pin: the whole op is ONE window over (conv, turn order) —
    a single hash exchange, no aggregation, no join, no sort_array /
    collect_list whale row (a million-turn conversation streams
    through at per-turn cost)."""
    from ocr_spark.operators.textops import sft_examples

    turns = spark.createDataFrame(
        [(0, 0, "user", "x"), (0, 1, "assistant", "y")],
        "conv_id long, turn_idx int, role string, text string",
    )
    tree = (
        sft_examples(turns, context_turns=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert tree.count("Exchange") == 1
    assert "HashAggregate" not in tree
    assert "Join" not in tree
    assert "collect_list" not in tree and "sort_array" not in tree
    assert tree.count("Window") == 1


def test_sft_spans_additivity_and_stream_tiling(spark):
    """Loss-mask spans: ctx_tokens + tgt_tokens == n_tokens exactly
    (whitespace separator additivity), a zero-context opener's span
    starts at its own flat position, and consecutive examples TILE the
    shard's flat token stream (one example's tgt_end == the next
    example's flat start — no gaps, no overlaps)."""
    from ocr_spark.operators.textops import sft_spans

    rows = [
        (0, "", "welcome to the show"),               # opener: 0 ctx
        (8, "user: hi", "hello there my friend"),
        (16, "user: a\nassistant: b", "short"),
        (24, "user: one two", "three four five six seven"),
    ]
    ex = spark.createDataFrame(
        rows, "doc_id long, context string, target string"
    )
    out = sorted(
        sft_spans(ex, seq_len=6, shards=1).collect(),
        key=lambda r: r.doc_id,
    )
    for r in out:
        assert r.ctx_tokens + r.tgt_tokens == r.n_tokens
        assert r.tgt_end - r.tgt_start == r.tgt_tokens
        flat = r.seq_idx * 6 + r.seq_offset
        assert r.tgt_start == flat + r.ctx_tokens
    assert out[0].ctx_tokens == 0 and out[0].tgt_start == 0
    # tiling: each example's end == the next one's flat start
    for a, b in zip(out, out[1:]):
        assert a.tgt_end == b.seq_idx * 6 + b.seq_offset
    # a span crossing a sequence boundary stays flat-correct:
    # example 8 starts at flat 4 (opener had 4 tokens) with 2 ctx +
    # 4 tgt -> target spans [6, 10), crossing the seq_len=6 cut
    r8 = out[1]
    assert (r8.seq_idx, r8.seq_offset) == (0, 4)
    assert (r8.tgt_start, r8.tgt_end) == (6, 10)


def test_pack_conversations_zero_token_turn_edge(spark):
    """The fill>0 guard both engines share: a chunk opened by
    zero-token turns absorbs even an oversized next turn (fill==0
    never forces a break)."""
    from ocr_spark.operators.textops import pack_conversations

    rows = [
        ("c", 0, "   "),                  # 0 tokens -> chunk 0, fill 0
        ("c", 1, " ".join(["x"] * 20)),   # oversized but fill==0 -> chunk 0
        ("c", 2, "y"),                    # 20+1 > 8 -> chunk 1
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, text string"
    )
    out = {
        r.turn_idx: r.chunk_idx
        for r in pack_conversations(df, max_tokens=8).collect()
    }
    assert out == {0: 0, 1: 0, 2: 1}


def test_pack_conversations_randomized_vs_reference(spark):
    """Randomized greedy-packing equivalence: 30 seeded conversations
    with adversarial token counts (incl. oversized turns and exact-fit
    boundaries) vs an independent pure-Python greedy fold, one Spark
    round."""
    import random

    from ocr_spark.operators.textops import pack_conversations

    max_tokens, rows, expected = 17, [], {}
    for c in range(30):
        rng = random.Random(3000 + c)
        chunk = fill = 0
        for i in range(rng.randint(1, 15)):
            n = rng.choice([1, 2, 5, 8, 16, 17, 18, 25])
            if fill > 0 and fill + n > max_tokens:
                chunk, fill = chunk + 1, n
            else:
                fill += n
            rows.append((c, i, " ".join(["w"] * n)))
            expected[(c, i)] = (n, chunk)
    df = spark.createDataFrame(rows, "conv_id long, turn_idx long, text string")
    got = {
        (r.conv_id, r.turn_idx): (r.n_tokens, r.chunk_idx)
        for r in pack_conversations(df, max_tokens=max_tokens).collect()
    }
    assert got == expected


def test_conv_dedup_order_and_canonical_equality(spark):
    """Whole-conversation dedup: same turns in the same ORDER (after
    ws/case canonicalization) collapse; same turns in a different
    order do NOT; turn-text boundaries stay distinct."""
    from ocr_spark.operators.dedup import conv_dedup

    rows = [
        ("a", 0, "Hello there"), ("a", 1, "General reply"),
        ("b", 0, "  hello   THERE "), ("b", 1, "general  reply"),
        ("c", 0, "General reply"), ("c", 1, "Hello there"),  # reordered
        ("d", 0, "Hello there General reply"),  # one merged turn
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, text string"
    )
    out = {r.keep_conv: r.n_dups for r in conv_dedup(df).collect()}
    assert out == {"a": 2, "c": 1, "d": 1}


def test_pack_conversations_greedy_turn_boundaries(spark):
    """Exact greedy conversation packing: whole turns only, a turn
    that would overflow starts the next chunk, an oversized single
    turn gets its own chunk, and every conversation starts fresh."""
    from ocr_spark.operators.textops import pack_conversations

    rows = [
        ("c1", 0, "a b c"),                  # 3 -> chunk 0 (fill 3)
        ("c1", 1, "d e f g"),                # 4 -> chunk 0 (fill 7)
        ("c1", 2, "h i j k"),                # 7+4 > 8 -> chunk 1
        ("c1", 3, " ".join(["x"] * 10)),     # oversized -> chunk 2 alone
        ("c1", 4, "y"),                      # 10+1 > 8 -> chunk 3
        ("c2", 0, "solo turn"),              # fresh conv -> chunk 0
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, text string"
    )
    out = sorted(
        (r.conv_id, r.turn_idx, r.n_tokens, r.chunk_idx)
        for r in pack_conversations(df, max_tokens=8).collect()
    )
    assert out == [
        ("c1", 0, 3, 0),
        ("c1", 1, 4, 0),
        ("c1", 2, 4, 1),
        ("c1", 3, 10, 2),
        ("c1", 4, 1, 3),
        ("c2", 0, 2, 0),
    ]
    # whale path equality: forcing EVERY conversation down the linear
    # mapInPandas fold (whale_turns=0) must reproduce the in-row fold
    # bit-for-bit — same greedy recurrence, two implementations
    whale = sorted(
        (r.conv_id, r.turn_idx, r.n_tokens, r.chunk_idx)
        for r in pack_conversations(df, max_tokens=8, whale_turns=0).collect()
    )
    assert whale == out


def test_pack_conversations_whale_path_matches_on_corpus(spark, sf001_dir):
    """Path equality at corpus scale: the sf0.001 documents table run
    entirely through the whale (mapInPandas linear) fold matches the
    default in-row fold row-for-row, including the gate's conv
    synthesis shape."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.textops import pack_conversations

    docs = (
        spark.read.parquet(sf001_dir + "/documents.parquet")
        .select(
            F.expr("doc_id div 10").alias("conv_id"),
            (F.col("doc_id") % 10).alias("turn_idx"),
            "text",
        )
    )
    base = sorted(
        map(tuple, pack_conversations(docs, max_tokens=300).collect())
    )
    whale = sorted(
        map(
            tuple,
            pack_conversations(docs, max_tokens=300, whale_turns=0).collect(),
        )
    )
    assert base == whale and len(base) > 0


def test_url_canonicalize_merges_variants(spark):
    """Scheme case, www, default port, param order, tracking params,
    fragments, and trailing slashes all collapse to one canonical key;
    subdomains keep distinct hosts."""
    from ocr_spark.operators.urlops import domain_filter, with_canonical_url

    rows = [
        (0, "https://www.Example.com:443/a/b/?b=2&a=1&utm_source=x#frag"),
        (1, "http://example.com/a/b?a=1&b=2"),
        (2, "example.com/a/b?a=1&b=2&gclid=zz"),
        (3, "https://sub.example.com/a"),
        (4, "https://other.org"),
        (5, "HTTP://WWW.OTHER.ORG:80/"),
        (6, "example.com/a/b?fbclid&a=1&b=2"),  # valueless tracking key
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    c = {
        r.doc_id: r.canonical_url
        for r in with_canonical_url(df).collect()
    }
    assert c[0] == c[1] == c[2] == c[6] == "example.com/a/b?a=1&b=2"
    assert c[3] == "sub.example.com/a"
    assert c[4] == c[5] == "other.org"
    # suffix-semantics blocklist: example.com blocks its subdomains but
    # NOT examplexcom lookalikes or other hosts; NULL urls come back
    # blocked=False (not NULL), preserving rows-never-dropped under
    # filter(~blocked)
    nulled = df.unionByName(
        spark.createDataFrame([(7, None)], "doc_id long, url string")
    )
    b = {
        r.doc_id: r.blocked
        for r in domain_filter(nulled, ["example.com"]).collect()
    }
    assert b == {
        0: True, 1: True, 2: True, 3: True,
        4: False, 5: False, 6: True, 7: False,
    }


def test_domain_filter_port_and_userinfo_shapes(spark):
    """A blocklist must not be escapable via non-default ports or a
    userinfo segment: the COMPARE host strips both (canonical_url keeps
    its default-port-only dedup policy — asserted too)."""
    from ocr_spark.operators.urlops import domain_filter, with_canonical_url

    rows = [
        (0, "http://example.com:8080/x"),
        (1, "http://user@example.com/x"),
        (2, "https://alice:pw@sub.example.com:9443/y"),
        (3, "http://example.com.evil.org/x"),   # suffix lookalike: not blocked
        (4, "http://notexample.com:8080/x"),    # substring lookalike
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r.doc_id: r for r in domain_filter(df, ["example.com"]).collect()}
    assert {i: out[i].blocked for i in range(5)} == {
        0: True, 1: True, 2: True, 3: False, 4: False,
    }
    # canonical_url unchanged by the filter fix: non-default port and
    # userinfo stay part of the dedup key (different origins)
    c = {
        r.doc_id: r.canonical_url for r in with_canonical_url(df).collect()
    }
    assert c[0] == "example.com:8080/x"
    assert c[1] == "user@example.com/x"


def test_ccnet_buckets_approx_agrees_with_exact(spark):
    """The scale path (approx_percentile t-digest) must assign the same
    head/middle/tail buckets as the exact-percentile gate mode, except
    possibly for docs whose score lies BETWEEN the two modes'
    thresholds (approx returns a dataset value, exact interpolates) —
    agreement >= 99% and every disagreement is boundary-confined."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.textops import ccnet_buckets, unigram_logprob

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = {
        r.doc_id: (r.avg_logprob, r.bucket)
        for r in ccnet_buckets(docs, exact=True).collect()
    }
    approx = {
        r.doc_id: (r.avg_logprob, r.bucket)
        for r in ccnet_buckets(docs).collect()
    }
    assert set(exact) == set(approx) and len(exact) > 100
    lp = unigram_logprob(docs)
    te = lp.agg(
        F.expr("percentile(avg_logprob, array(0.3333, 0.6667))").alias("q")
    ).first().q
    ta = lp.agg(
        F.expr(
            "approx_percentile(avg_logprob, array(0.3333, 0.6667), 10000)"
        ).alias("q")
    ).first().q
    bounds = [
        (min(round(te[i], 4), round(ta[i], 4)),
         max(round(te[i], 4), round(ta[i], 4)))
        for i in range(2)
    ]
    disagree = [k for k in exact if exact[k][1] != approx[k][1]]
    assert len(disagree) <= 0.01 * len(exact)
    for k in disagree:
        s = exact[k][0]
        assert any(lo <= s < hi for lo, hi in bounds), (k, s, bounds)


def test_substring_dedup_removes_shared_spans(spark):
    """Lee et al. '21 ExactSubstr semantics: verbatim >= min_len token
    spans shared across docs drop EVERYWHERE; overlapping duplicated
    windows merge into one interval; unique text, short docs, and empty
    docs survive untouched (rows never dropped)."""
    from ocr_spark.operators.dedup import substring_dedup

    span = " ".join(f"w{i}" for i in range(12))  # 12-token shared span
    docs = _docs(
        spark,
        [
            "alpha beta " + span + " gamma",
            "start tokens " + span + " end tokens",
            "entirely unique content without any duplication",
            "",
            "tiny",
        ],
    )
    out = {r.doc_id: r for r in substring_dedup(docs, min_len=10).collect()}
    assert len(out) == 5, "rows never dropped"
    assert out[0].text_clean == "alpha beta gamma"
    assert out[0].n_dropped == 12 and out[0].n_kept == 3
    assert out[1].text_clean == "start tokens end tokens"
    assert out[2].n_dropped == 0
    assert out[3].text_clean == "" and out[3].n_kept == 0
    assert out[4].text_clean == "tiny" and out[4].n_dropped == 0


def test_substring_dedup_interval_merge_and_min_df(spark):
    from ocr_spark.operators.dedup import substring_dedup

    long_span = " ".join(f"v{i}" for i in range(25))  # > min_len run
    docs = _docs(spark, ["x " + long_span, long_span + " y"])
    out = {
        r.doc_id: r for r in substring_dedup(docs, min_len=10).collect()
    }
    # every 10-gram window of the 25-token run is duplicated; the
    # overlapping [p, p+10) intervals must merge to cover all 25 tokens
    assert out[0].text_clean == "x" and out[0].n_dropped == 25
    assert out[1].text_clean == "y" and out[1].n_dropped == 25
    # min_df=3: the same span in only 2 docs stays
    kept = {
        r.doc_id: r
        for r in substring_dedup(docs, min_len=10, min_df=3).collect()
    }
    assert kept[0].n_dropped == 0 and kept[1].n_dropped == 0


def test_substring_dedup_keep_first_canonical_survives(spark):
    """Lee et al. keep-one policy: the lexicographic-min occurrence of
    each duplicated span survives; all other carriers lose it."""
    from ocr_spark.operators.dedup import substring_dedup

    span = " ".join(f"w{i}" for i in range(12))
    docs = _docs(
        spark,
        [
            "alpha " + span + " omega",      # doc 0: canonical carrier
            "start " + span + " end",        # doc 1: loses the span
            span,                            # doc 2: loses the span
        ],
    )
    out = {
        r.doc_id: r
        for r in substring_dedup(docs, min_len=10, keep_first=True).collect()
    }
    assert out[0].n_dropped == 0, "canonical occurrence survives"
    assert out[0].text_clean == "alpha " + span + " omega"
    assert out[1].text_clean == "start end" and out[1].n_dropped == 12
    assert out[2].text_clean == "" and out[2].n_dropped == 12


def _ref_substring_dedup(docs, min_len, min_df=2):
    """Independent pure-Python reference (set/tuple based — shares no
    code or representation with the Spark md5/array-expr path)."""
    from collections import defaultdict

    toks = {
        i: (t.strip().split() if t.strip() else [])
        for i, t in docs.items()
    }
    gram_docs = defaultdict(set)
    for i, ts in toks.items():
        for p in range(len(ts) - min_len + 1):
            gram_docs[tuple(ts[p : p + min_len])].add(i)
    out = {}
    for i, ts in toks.items():
        drop = set()
        for p in range(len(ts) - min_len + 1):
            if len(gram_docs[tuple(ts[p : p + min_len])]) >= min_df:
                drop.update(range(p, p + min_len))
        kept = [t for j, t in enumerate(ts) if j not in drop]
        out[i] = (" ".join(kept), len(kept), len(ts) - len(kept))
    return out


def test_substring_dedup_randomized_vs_reference(spark):
    """Randomized equivalence: 20 seeded corpora over a 4-token
    vocabulary (so cross-doc duplicate grams occur constantly and the
    interval merge is stressed hard), all checked against an
    independent pure-Python reference in ONE Spark round (corpora are
    token-prefixed so they cannot cross-match)."""
    import random

    from ocr_spark.operators.dedup import substring_dedup

    min_len, rows, expected = 3, [], {}
    for c in range(20):
        rng = random.Random(1000 + c)
        vocab = [f"c{c}w{v}" for v in range(4)]
        docs = {}
        for d in range(rng.randint(3, 8)):
            n = rng.randint(0, 30)
            docs[c * 100 + d] = " ".join(
                rng.choice(vocab) for _ in range(n)
            )
        for i, (clean, k, dr) in _ref_substring_dedup(
            docs, min_len
        ).items():
            expected[i] = (clean, k, dr)
        rows += [(i, t) for i, t in docs.items()]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text_clean, r.n_kept, r.n_dropped)
        for r in substring_dedup(df, min_len=min_len).collect()
    }
    assert got == expected


def test_decontaminate_flags_benchmark_overlap(spark):
    from ocr_spark.operators.dedup import decontaminate

    eval_q = " ".join(f"q{i}" for i in range(13))  # exactly one 13-gram
    docs = _docs(
        spark,
        [
            "prefix words " + eval_q + " suffix words",  # contaminated
            " ".join(f"clean{i}" for i in range(30)),    # clean
            "short doc",                                  # < 13 tokens
        ],
    )
    bench = spark.createDataFrame(
        pd.DataFrame({"bench_id": [0], "text": [eval_q]})
    )
    out = {
        r.doc_id: r.contaminated
        for r in decontaminate(docs, bench, n=13).collect()
    }
    assert out == {0: True, 1: False, 2: False}


def test_cosine_near_dup_max_bucket_drops_degenerate_bucket(spark):
    """Sign-degenerate fixture: all-positive embeddings (the post-ReLU
    encoder shape) collapse into ONE sign bucket, so the candidate join
    is quadratic. max_bucket must drop the hot bucket (bounded work,
    explicit recall trade) instead of cross-joining it."""
    import numpy as np

    from ocr_spark.operators.similarity import cosine_near_dup_pairs

    rng = np.random.RandomState(3)
    vecs = [[float(x) for x in np.abs(rng.randn(8)) + 0.1] for _ in range(60)]
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(60), "embedding": vecs})
    )
    # uncapped: every vector shares bucket 255 -> pairs exist
    full = cosine_near_dup_pairs(emb, threshold=0.5, dims=8)
    assert full.count() > 0
    # capped below the bucket population: the whole bucket is dropped
    capped = cosine_near_dup_pairs(emb, threshold=0.5, dims=8, max_bucket=30)
    assert capped.count() == 0


def test_redact_pii_counts_and_rewrites(spark):
    from ocr_spark.operators.textops import redact_pii

    docs = _docs(
        spark,
        [
            "write to alice@corp.example.org or bob.smith@mail.co",
            "docs at https://spark.apache.org/docs and http://x.io",
            "call +82 10-1234-5678 or 555-123-4567 now",
            "clean text with no sensitive content at all",
        ],
    )
    out = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert out[0].n_emails == 2 and "<EMAIL>" in out[0].text_redacted
    assert "@" not in out[0].text_redacted
    assert out[1].n_urls == 2 and "http" not in out[1].text_redacted
    assert out[2].n_phones == 2 and "<PHONE>" in out[2].text_redacted
    assert out[3].text_redacted == docs.collect()[3].text


def test_redact_pii_ipv4_ssn_iban(spark):
    """The r4 pattern widening: IPv4 / SSN / IBAN shapes, including the
    order-critical IBAN-before-phone chain (the digit run inside an
    IBAN matches the phone shape — a phone-first chain would leave
    'DE<PHONE>' behind)."""
    from ocr_spark.operators.textops import redact_pii

    docs = _docs(
        spark,
        [
            "server 10.0.0.1 and 192.168.101.204 responded",
            "ssn 123-45-6789 on file",
            "wire to DE89370400440532013000 please",
            "version 1.2.3 is not an ip and 12-34 not an ssn",
        ],
    )
    out = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert out[0].n_ipv4s == 2
    assert out[0].text_redacted == "server <IPV4> and <IPV4> responded"
    assert out[1].n_ssns == 1
    assert out[1].text_redacted == "ssn <SSN> on file"
    # the raw-text phone detector also fires on the SSN shape (counts
    # are per-pattern; the redacted text is unambiguous)
    assert out[1].n_phones == 1
    assert out[2].n_ibans == 1
    assert out[2].text_redacted == "wire to <IBAN> please"
    assert "<PHONE>" not in out[2].text_redacted
    assert out[3].n_ipv4s == 0 and out[3].n_ssns == 0
    assert out[3].text_redacted == docs.collect()[3].text


def test_semantic_dedup_greedy_keep_min_id(spark):
    """Pins the greedy-by-id rule (drop iff a SMALLER-id near-dup
    exists), which differs from connected-components keep-min: with
    edges (0,2) and (1,2) only, greedy keeps {0, 1} while a
    per-component rule would keep only 0."""
    from ocr_spark.operators.similarity import semantic_dedup

    pad = [0.0] * 6
    vecs = [
        [1.0, 0.0] + pad,            # v0
        [0.0, 1.0] + pad,            # v1: orthogonal to v0
        [0.7071, 0.7071] + pad,      # v2: cos 0.7071 to both
    ]
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(3), "embedding": vecs})
    )
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(3), "text": ["a", "b", "c"]})
    )
    kept = sorted(
        r.doc_id
        for r in semantic_dedup(docs, emb, threshold=0.7, dims=8).collect()
    )
    assert kept == [0, 1]
    # higher threshold: no pairs, everything survives
    kept_all = sorted(
        r.doc_id
        for r in semantic_dedup(docs, emb, threshold=0.9, dims=8).collect()
    )
    assert kept_all == [0, 1, 2]


def test_dedup_keep_best_picks_highest_quality_then_min_id(spark):
    from ocr_spark.operators.dedup import dedup_keep_best

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": ["same  text", "same text", "same   text", "other"],
                "quality": [1, 5, 5, 2],
            }
        )
    )
    out = {r.fingerprint: r for r in dedup_keep_best(df, "quality").collect()}
    assert len(out) == 2
    grp = next(r for r in out.values() if r.n_dups == 3)
    # highest quality wins; the 1-vs-2 tie breaks to the smaller id
    assert grp.keep_id == 1 and grp.best_quality == 5
    solo = next(r for r in out.values() if r.n_dups == 1)
    assert solo.keep_id == 3 and solo.best_quality == 2


def test_kmv_distinct_small_group_exact_large_group_estimates(spark):
    from ocr_spark.operators.sketches import kmv_distinct_tokens

    # group "tiny": 3 distinct tokens < k -> exact count, no estimator;
    # group "big": 2000 distinct tokens -> KMV estimate within 25%
    # (k=64 -> relative std error ~ 1/sqrt(62) ~ 13%)
    big_text = " ".join(f"tok{i}" for i in range(2000))
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "source": ["tiny", "big"],
                "text": ["alpha beta alpha gamma", big_text],
            }
        )
    )
    out = {
        r.source: r for r in kmv_distinct_tokens(df, k=64).collect()
    }
    assert out["tiny"].n_exact == 3
    assert out["tiny"].est_distinct == 3.0
    assert out["big"].n_exact == 2000
    assert 1500 <= out["big"].est_distinct <= 2500
    # deterministic: same input -> bit-identical estimate
    again = {
        r.source: r.est_distinct
        for r in kmv_distinct_tokens(df, k=64).collect()
    }
    assert again["big"] == out["big"].est_distinct


def test_winnow_matches_pure_python_reference(spark):
    """Exact equality vs an independent winnowing implementation
    (rightmost-min per window), plus the coverage guarantee: every
    window of w consecutive k-grams contains a selected fingerprint."""
    import hashlib

    from ocr_spark.operators.sketches import winnow_fingerprints

    k, w = 4, 4
    texts = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "a b c a b c a b c a b c a b c",   # periodic: tie-heavy
        "one two three four five six seven",  # exactly k+w-1 tokens
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    got = {
        (r.doc_id, r.pos, r.fp)
        for r in winnow_fingerprints(docs, k=k, w=w).collect()
    }

    want = set()
    for d, s in enumerate(texts):
        toks = s.lower().split()
        if len(toks) < k + w - 1:
            continue
        us = []
        for i in range(len(toks) - k + 1):
            h = hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()
            us.append(int(h[:8], 16))
        for start in range(len(us) - w + 1):
            win = us[start : start + w]
            m = min(win)
            pos = start + max(j for j, u in enumerate(win) if u == m)
            want.add((d, pos, m))
        # coverage: every window holds at least one selected position
        sel_pos = {p for (dd, p, _) in want if dd == d}
        for start in range(len(us) - w + 1):
            assert any(start <= p <= start + w - 1 for p in sel_pos)
    assert got == want


def test_winnow_pairs_finds_near_dup_not_unrelated(spark):
    from ocr_spark.operators.sketches import winnow_near_dup_pairs

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    near = base.replace("pi rho", "pie rho")  # one-token mutation
    other = (
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen"
    )
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": [base, near, other]})
    )
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in winnow_near_dup_pairs(docs, min_shared=2).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 2
    assert all(p == (0, 1) for p in pairs)
    # boilerplate pruning: a fingerprint in every doc never joins
    many = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(8), "text": [base] * 8}
        )
    )
    capped = winnow_near_dup_pairs(many, min_shared=1, max_df=4).collect()
    assert capped == []


def test_winnow_verified_pairs_filters_accidental_candidates(spark):
    from ocr_spark.operators.sketches import winnow_verified_pairs

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    near = base.replace("pi rho", "pie rho")
    # shares two exact 4-gram stretches with base but is otherwise
    # disjoint -> a candidate whose full Jaccard is low
    accidental = (
        "alpha beta gamma delta epsilon zeta eta theta "
        "uno dos tres cuatro cinco seis siete ocho nueve diez once doce"
    )
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [0, 1, 2], "text": [base, near, accidental]}
        )
    )
    out = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in winnow_verified_pairs(
            docs, min_shared=1, threshold=0.5
        ).collect()
    }
    assert (0, 1) in out and out[(0, 1)] >= 0.5
    assert (0, 2) not in out  # candidate, but verification rejects it


def test_nb_quality_separates_planted_classes(spark):
    """Multinomial NB over hashed uni+bigram features: docs made of
    the positive class's vocabulary score log_odds > 0 (pred_clean),
    negative-vocabulary docs score < 0, and the learned prior
    ln(Np/Nn) shifts scores exactly (pinned on a vocab-free doc)."""
    from ocr_spark.operators.textops import nb_quality

    pos = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(4)],
        "doc_id long, text string",
    )
    neg = spark.createDataFrame(
        [(i, "zork quux blarg") for i in range(2)],
        "doc_id long, text string",
    )
    scored = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "zork quux blarg"),
            (2, "unseen words only"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in nb_quality(scored, pos, neg).collect()}
    assert out[0].pred_clean and out[0].log_odds > 0
    assert not out[1].pred_clean and out[1].log_odds < 0
    # unseen-vocabulary doc: every feature gets the smoothed ratio
    # ln((0+1)/(Tp+aV)) - ln((0+1)/(Tn+aV)) plus the prior ln(4/2) —
    # computable in closed form (5 features: 3 unigrams + 2 bigrams)
    import math

    tp = 4 * 7  # 4 pos docs x (4 uni + 3 bi)
    tn = 2 * 5  # 2 neg docs x (3 uni + 2 bi)
    per_feat = math.log(1.0 / (tp + 10000.0)) - math.log(
        1.0 / (tn + 10000.0)
    )
    expect = round(5 * per_feat + math.log(4 / 2), 4)
    assert abs(out[2].log_odds - expect) < 1e-9


def test_incremental_minhash_verified_cross_corpus(spark):
    """Verified incremental near-dup: an increment doc band-colliding
    with committed content verifies by exact cross-corpus Jaccard —
    exact re-ingests at 1.0, near-dups above threshold, unrelated
    docs produce no pair at all (bipartite: ids may overlap across
    runs without ambiguity)."""
    from ocr_spark.operators.dedup import (
        band_keys,
        incremental_minhash_verified,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    committed = _docs(spark, [base, "one two three four five six " * 5])
    inc = _docs(
        spark,
        [
            base,                      # 0: exact re-ingest -> 1.0 vs committed 0
            base + "tail extra",       # 1: near-dup of committed 0
            "totally different words entirely unrelated here now " * 4,
        ],
    )
    out = {
        (r.doc_id, r.committed_id): r.jaccard
        for r in incremental_minhash_verified(
            inc, band_keys(committed), committed, threshold=0.3
        ).collect()
    }
    assert out[(0, 0)] == 1.0
    assert 0.3 <= out[(1, 0)] < 1.0
    assert all(d != 2 for d, _ in out)
    assert all(c != 1 for _, c in out)


def test_incremental_dedup_consistency_properties(spark, sf001_dir):
    """Algebraic pins for the two-phase semantics: (1) against an
    EMPTY store, incremental dedup == plain exact_dedup; (2) run-1
    survivors + run-2 survivors partition the distinct fingerprints of
    the union (nothing lost, nothing double-kept)."""
    from ocr_spark.operators.dedup import exact_dedup, incremental_exact_dedup

    docs = spark.read.parquet(sf001_dir + "/documents.parquet").select(
        "doc_id", "text"
    )
    empty = spark.createDataFrame([], "fingerprint string")
    inc_all = {
        (r.fingerprint, r.keep_id, r.n_dups)
        for r in incremental_exact_dedup(docs, empty).collect()
    }
    plain = {
        (r.fingerprint, r.keep_id, r.n_dups)
        for r in exact_dedup(docs).collect()
    }
    assert inc_all == plain and len(plain) > 0

    run1 = docs.filter("doc_id % 3 != 0")
    run2 = docs.filter("doc_id % 3 = 0")
    s1 = {
        r.fingerprint
        for r in incremental_exact_dedup(run1, empty).collect()
    }
    s2 = {
        r.fingerprint
        for r in incremental_exact_dedup(
            run2,
            spark.createDataFrame(
                [(f,) for f in s1], "fingerprint string"
            ),
        ).collect()
    }
    assert s1 | s2 == {f for f, _, _ in plain}
    assert not (s1 & s2)


def test_canonical_url_idempotent(spark):
    """Canonicalization is a projection onto its own fixed points:
    re-canonicalizing a canonical_url must be a no-op for every
    variant shape (scheme case, www, default/odd ports, userinfo,
    params, fragments, trailing slashes, NULL)."""
    from ocr_spark.operators.urlops import with_canonical_url

    rows = [
        (0, "https://www.Example.com:443/a/b/?b=2&a=1&utm_source=x#f"),
        (1, "http://user@example.com:8080/x?gclid=1"),
        (2, "example.com"),
        (3, "HTTPS://WWW.OTHER.ORG:80/p/?z=1&y=2&fbclid"),
        (4, "ftp://files.example.net/dir/file.txt"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    once = with_canonical_url(df).select(
        "doc_id", F.col("canonical_url").alias("url")
    )
    twice = with_canonical_url(once).select("doc_id", "canonical_url")
    a = {r.doc_id: r.url for r in once.collect()}
    b = {r.doc_id: r.canonical_url for r in twice.collect()}
    assert a == b


def test_kmeans_recovers_planted_direction_clusters(spark):
    """Three well-separated direction clusters in 6-d; the three
    lowest-id vectors (the deterministic seeds) land one per cluster,
    so two Lloyd iterations must recover the planted membership."""
    from ocr_spark.operators.clustering import kmeans_assign

    base = {
        0: [1.0, 0.0, 0.0, 0.0, 0.0, 0.0],
        1: [0.0, 1.0, 0.0, 0.0, 0.0, 0.0],
        2: [0.0, 0.0, 1.0, 0.0, 0.0, 0.0],
    }
    rows = []
    for i in range(30):
        c = i % 3
        v = list(base[c])
        # small deterministic jitter off the cluster axis
        v[3 + c] = 0.05 + 0.01 * (i // 3)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = {r.vec_id: r.cid for r in
           kmeans_assign(emb, k=3, iters=2, vec_dims=6).collect()}
    assert len(out) == 30
    # seeds are vec_ids 0,1,2 — one per planted cluster
    for i in range(30):
        assert out[i] == i % 3, (i, out[i])


def test_kmeans_empty_cluster_disappears(spark):
    """Two identical seed vectors: every row ties and breaks to the
    smaller cid, so cluster 1 empties after the first assignment and
    must simply vanish from the final labelling (documented policy —
    no re-seeding)."""
    from ocr_spark.operators.clustering import kmeans_assign

    rows = [(i, [1.0, 1.0, 0.0, 0.0]) for i in range(10)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = kmeans_assign(emb, k=2, iters=2, vec_dims=4).collect()
    assert {r.cid for r in out} == {0}
    assert len(out) == 10


def test_semantic_dedup_kmeans_drops_higher_id_near_dup(spark):
    """A planted duplicate embedding (same direction, higher id) lands
    in the same cluster by construction and must be the dropped side;
    the original and unrelated docs survive."""
    import pandas as pd

    from ocr_spark.operators.clustering import semantic_dedup_kmeans

    emb_rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [2.0, 0.0, 0.0, 0.0]),  # near-dup of 0 (cos = 1)
        (4, [0.0, 0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<float>"
    )
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(5), "text": ["t"] * 5})
    )
    kept = {
        r.doc_id
        for r in semantic_dedup_kmeans(
            docs, emb, k=3, iters=1, threshold=0.95, vec_dims=4
        ).collect()
    }
    assert 3 not in kept
    assert {0, 1, 2, 4} <= kept


def test_decontaminate_fuzzy_catches_mutated_leak_exact_misses(spark):
    """THE motivating case: a leaked eval answer with every 8th token
    mutated has no 13-gram intact (exact filter blind) but 3-gram
    Jaccard ~0.5 — the fuzzy filter must flag it. A clean doc stays
    unflagged and the verbatim copy is flagged by both filters."""
    import pandas as pd

    from ocr_spark.operators.dedup import decontaminate, decontaminate_fuzzy

    eval_text = " ".join(f"answer{i}" for i in range(48))
    toks = eval_text.split()
    mutated = [
        ("MUT%d" % i) if i % 8 == 0 else t for i, t in enumerate(toks)
    ]
    docs = _docs(
        spark,
        [
            " ".join(mutated),                         # mutated leak
            " ".join(f"unrelated{i}" for i in range(48)),  # clean
            eval_text,                                 # verbatim leak
        ],
    )
    bench = spark.createDataFrame(
        pd.DataFrame({"bench_id": [0], "text": [eval_text]})
    )
    exact = {
        r.doc_id: r.contaminated
        for r in decontaminate(docs, bench, n=13).collect()
    }
    fuzzy = {
        r.doc_id: r.contaminated
        for r in decontaminate_fuzzy(docs, bench, threshold=0.3).collect()
    }
    assert exact == {0: False, 1: False, 2: True}
    assert fuzzy == {0: True, 1: False, 2: True}


def test_d4_select_drops_dups_then_prototypes(spark):
    """Two symmetric direction clusters of 5; each cluster's centroid
    lands exactly on its axis, so the on-axis seed vector is the most
    prototypical and floor(0.2 * 5) = 1 drops exactly it per cluster.
    The dedup threshold is set above every planted cosine so stage 1
    drops nothing, and a doc without an embedding row is kept."""
    import pandas as pd

    from ocr_spark.operators.clustering import d4_select

    emb_rows = []
    for j, off in enumerate([0.0, 0.1, -0.1, 0.3, -0.3]):
        # evens on the e1 axis, odds on e2; offsets cancel in the mean
        emb_rows.append((2 * j, [1.0, off, 0.0, 0.0]))
        emb_rows.append((2 * j + 1, [0.0, 1.0, off, 0.0]))
    emb = spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<float>"
    )
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(11), "text": ["t"] * 11})
    )
    kept = {
        r.doc_id
        for r in d4_select(
            docs, emb, k=2, iters=1, threshold=0.999,
            prune_frac=0.2, vec_dims=4,
        ).collect()
    }
    assert kept == set(range(2, 11)), kept


def test_c4_rules_line_and_page_semantics(spark):
    from ocr_spark.operators.textops import c4_rules

    five = "one two three four went by. " * 5  # 5 clean sentences
    docs = _docs(
        spark,
        [
            five,                                     # kept, all rules pass
            five + "\nno terminal punctuation here",  # line dropped
            five + "\ntoo few.",                      # <3 words dropped
            five + "\nenable JavaScript to view it.",  # js line dropped
            "just one tiny sentence here.",           # <5 sentences
            five + " lorem IPSUM dolor.",             # raw-text phrase
            five + "\nvar f = function() { oops };",  # curly brace
            five + "\nthe badword is mentioned too.",  # blocklist
        ],
    )
    out = {
        r.doc_id: r
        for r in c4_rules(docs, blocklist=["badword"]).collect()
    }
    assert len(out) == 8  # rows never dropped
    assert out[0].c4_kept and out[0].text_clean == five.strip()
    # the three bad lines are scrubbed, leaving the identical clean page
    for i in (1, 2, 3):
        assert out[i].text_clean == five.strip()
        assert out[i].c4_kept, i
    assert out[4].text_clean == "just one tiny sentence here."
    assert not out[4].c4_kept          # min_sentences
    assert not out[5].c4_kept          # lorem ipsum (case-folded, raw text)
    assert not out[6].c4_kept          # curly brace in raw text
    assert not out[7].c4_kept          # blocklist word
    # blocklist/brace lines that END clean still appear in text_clean --
    # page flags inspect RAW text, line filter is independent (C4 order)
    assert "badword" in out[7].text_clean


def test_c4_rules_empty_clean_is_empty_string(spark):
    from ocr_spark.operators.textops import c4_rules

    docs = _docs(spark, ["no punct at all", ""])
    out = {r.doc_id: r for r in c4_rules(docs).collect()}
    assert out[0].text_clean == "" and not out[0].c4_kept
    assert out[1].text_clean == "" and not out[1].c4_kept


def test_hash_split_group_coherent_and_deterministic(spark):
    from ocr_spark.operators.textops import hash_split

    rows = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(200) for _ in range(3)],
            "turn_idx": list(range(3)) * 200,
        }
    )
    df = spark.createDataFrame(rows)
    out = hash_split(
        df, {"val": 0.1, "test": 0.1}, key_col="conv_id"
    ).toPandas()
    # group coherence: every turn of a conversation in the same split
    assert (out.groupby("conv_id")["split"].nunique() == 1).all()
    # all three labels present; val/test near the 10% target
    per_key = out.drop_duplicates("conv_id")["split"].value_counts()
    assert per_key.get("train", 0) > 100
    assert 5 <= per_key.get("val", 0) <= 40
    assert 5 <= per_key.get("test", 0) <= 40
    # partition-layout independence
    out2 = hash_split(
        df.repartition(7), {"val": 0.1, "test": 0.1}, key_col="conv_id"
    ).toPandas()
    m = out.merge(out2, on=["conv_id", "turn_idx"])
    assert (m["split_x"] == m["split_y"]).all()


def test_shard_assign_positions_stable_and_salted(spark):
    from ocr_spark.operators.textops import shard_assign

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = shard_assign(df, n_shards=4, key_col="doc_id").toPandas()
    assert len(out) == 500 and set(out["shard"]) <= set(range(4))
    # positions are contiguous 1..n within each shard
    for _, g in out.groupby("shard"):
        assert sorted(g["pos"]) == list(range(1, len(g) + 1))
    # no shard is starved (md5 is uniform: 500/4 +- wide slack)
    assert out.groupby("shard").size().min() > 60
    # deterministic under a different input partitioning
    out2 = shard_assign(
        df.repartition(9), n_shards=4, key_col="doc_id"
    ).toPandas()
    m = out.merge(out2, on="doc_id")
    assert (m["shard_x"] == m["shard_y"]).all()
    assert (m["pos_x"] == m["pos_y"]).all()
    # a different salt is a different epoch order
    out3 = shard_assign(
        df, n_shards=4, key_col="doc_id", salt="epoch1"
    ).toPandas()
    m3 = out.merge(out3, on="doc_id")
    assert (m3["shard_x"] != m3["shard_y"]).any()


def test_char_entropy_closed_forms(spark):
    import math

    from ocr_spark.operators.textops import char_entropy

    uniform = "".join(chr(ord("a") + i) for i in range(26))
    docs = _docs(
        spark,
        [
            "aaaa AAAA",        # single letter -> 0 nats
            "abab BABA",        # two equiprobable letters -> ln 2
            uniform + uniform.upper(),   # uniform 26 -> ln 26
            "",                 # empty: entropy 0, letter_frac 0
            "ab12",             # letter_frac 0.5
        ],
    )
    out = {r.doc_id: r for r in char_entropy(docs).collect()}
    assert out[0].char_entropy == 0.0 and out[0].letter_frac < 1.0
    assert abs(out[1].char_entropy - math.log(2)) < 1e-6
    assert abs(out[2].char_entropy - math.log(26)) < 1e-6
    assert out[3].char_entropy == 0.0 and out[3].letter_frac == 0.0
    assert abs(out[4].letter_frac - 0.5) < 1e-7
    # direction: english prose < base64-ish blob < uniform bound
    blob = "qz8Jk2vXw9yRb4Tn6LpA3sDfG7hMcEuViWoN5"
    prose = "the cat sat on the mat and then the cat ran to the barn"
    d2 = {
        r.doc_id: r.char_entropy
        for r in char_entropy(_docs(spark, [prose, blob])).collect()
    }
    assert d2[0] < d2[1] <= math.log(26) + 1e-6


def test_shard_assign_by_split_positions_restart(spark):
    from ocr_spark.operators.textops import hash_split, shard_assign

    df = spark.range(0, 400).withColumnRenamed("id", "doc_id")
    out = shard_assign(
        hash_split(df, {"val": 0.2}, key_col="doc_id"),
        n_shards=4,
        key_col="doc_id",
        by=("split",),
    ).toPandas()
    # positions restart per (split, shard) — the per-split loader shape
    for _, g in out.groupby(["split", "shard"]):
        assert sorted(g["pos"]) == list(range(1, len(g) + 1))
    # shard bucket itself is split-independent (same md5)
    base = shard_assign(df, n_shards=4, key_col="doc_id").toPandas()
    m = out.merge(base, on="doc_id")
    assert (m["shard_x"] == m["shard_y"]).all()


def test_contamination_report_coverage_levels(spark):
    from ocr_spark.operators.dedup import contamination_report

    words = [f"w{i}" for i in range(40)]
    corpus_doc = " ".join(words)
    docs = _docs(spark, [corpus_doc, "other unrelated text entirely"])
    bench = spark.createDataFrame(
        pd.DataFrame(
            {
                "bench_id": [0, 1, 2],
                "text": [
                    corpus_doc,                        # fully leaked
                    " ".join(words[:16])               # first 16 toks leak,
                    + " "                              # rest is novel
                    + " ".join(f"z{i}" for i in range(16)),
                    " ".join(f"q{i}" for i in range(20)),  # clean
                ],
            }
        )
    )
    out = {
        r.bench_id: r
        for r in contamination_report(docs, bench, n=13).collect()
    }
    assert out[0].coverage == 1.0
    assert out[0].grams_total == 40 - 12
    # bench 1: 32 tokens -> 20 grams, of which starts 0..3 lie fully
    # inside the leaked 16-token prefix
    assert out[1].grams_total == 20 and out[1].grams_hit == 4
    assert 0.0 < out[1].coverage < 1.0
    assert out[2].grams_hit == 0 and out[2].coverage == 0.0


def test_incremental_dedup_bloom_prefilter_is_exactness_preserving(spark):
    from ocr_spark.operators.dedup import (
        exact_dedup,
        incremental_exact_dedup,
    )

    texts = [f"doc number {i} body text {i}" for i in range(40)]
    docs = _docs(spark, texts)
    committed = exact_dedup(docs.filter(F.col("doc_id") % 2 == 0))
    incr = _docs(spark, texts).unionByName(
        _docs(spark, texts[:10]).select(
            (F.col("doc_id") + 1000).alias("doc_id"), "text"
        )
    )
    base = {
        r.fingerprint: (r.keep_id, r.n_dups)
        for r in incremental_exact_dedup(incr, committed).collect()
    }
    # m=64: nearly every row is a false-positive suspect -> all routed
    # through the anti-join; m=2^22: committed hits suspect, fresh rows
    # overwhelmingly bypass. Both must equal the no-bloom result.
    for m in (64, 1 << 22):
        got = {
            r.fingerprint: (r.keep_id, r.n_dups)
            for r in incremental_exact_dedup(
                incr, committed, bloom_bits=m
            ).collect()
        }
        assert got == base, m


def test_url_category_first_match_and_canonical_target(spark):
    from ocr_spark.operators.urlops import url_category

    df = spark.createDataFrame(
        [
            (1, "https://www.shop.example.com/casino/promo"),
            (2, "http://x.example.com/photos/xxx/1"),
            # both patterns present -> first category in dict order
            (3, "https://a.example.com/casino-xxx"),
            (4, "https://ok.example.com/news"),
            # variant dodging attempt: port + tracking + fragment
            (5, "HTTPS://www.y.example.com:443/poker?utm_source=a#f"),
        ],
        "doc_id long, url string",
    )
    out = {
        r["doc_id"]: (r["url_category"], r["url_blocked"])
        for r in url_category(
            df, {"adult": "xxx", "gambling": "casino|poker"}
        ).collect()
    }
    assert out[1] == ("gambling", True)
    assert out[2] == ("adult", True)
    assert out[3] == ("adult", True)  # dict order wins on double match
    assert out[4] == ("ok", False)
    assert out[5] == ("gambling", True)  # canonical form is matched


def test_url_decontaminate_matches_across_variants(spark):
    from ocr_spark.operators.urlops import url_decontaminate

    train = spark.createDataFrame(
        [
            (1, "HTTP://www.a.example.org:80/p?utm_source=f&k=1"),
            (2, "https://b.example.org/q"),
            (3, "https://c.example.org/r"),
        ],
        "doc_id long, url string",
    )
    ev = spark.createDataFrame(
        # raw variant differs from train's in every stripped component
        [(100, "https://a.example.org/p?k=1"),
         (101, "http://unrelated.example.org/z")],
        "doc_id long, url string",
    )
    kept = sorted(
        r["doc_id"] for r in url_decontaminate(train, ev).collect()
    )
    assert kept == [2, 3]


def test_dedup_weights_cluster_mass(spark):
    from ocr_spark.operators.dedup import dedup_weights

    df = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "Hello   WORLD  "),   # canonical twin of 1
            (3, "hello world"),       # triplet member
            (4, "unique doc"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_weights(df).collect()}
    assert len(out) == 4  # rows never dropped
    for i in (1, 2, 3):
        assert out[i]["n_dups"] == 3
        assert abs(out[i]["weight"] - 1 / 3) < 1e-6
    assert out[4]["n_dups"] == 1 and out[4]["weight"] == 1.0
    # expected training mass of each cluster is one document
    assert abs(sum(r["weight"] for r in out.values()) - 2.0) < 1e-5


# --------------------------------------------------------------------------
# product quantization (operators/pq.py)
# --------------------------------------------------------------------------


def _pq_fixture(spark):
    """8-d vectors, m=2 subspaces: each half points along e0 or e1 of
    its subspace (with small deterministic jitter on a spare axis), so
    with ksub=2 and seeds [e0|e0], [e1|e1] the planted code pair of
    every vector is (first-half dir, second-half dir)."""
    rows = []
    for i in range(40):
        a, b = (i >> 0) & 1, (i >> 1) & 1  # planted combo (4 groups)
        v = [0.0] * 8
        v[a] = 1.0
        v[4 + b] = 1.0
        if i >= 2:  # rows 0/1 are the exact seeds
            v[2] = 0.05 + 0.001 * i
            v[6] = 0.05 + 0.001 * i
        rows.append((i, [float(x) for x in v]))
    # seeds must be [e0|e0] (vec 0: a=0,b=0) and [e1|e1] (vec 1 has
    # a=1,b=0 — fix it up to b=1 so seed 1 is the other corner)
    rows[1] = (1, [0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0])
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_encode_recovers_planted_subspace_directions(spark):
    """Every vector's code in each subspace equals its planted half
    direction — seeds are the two corners, one refinement pass keeps
    each centroid nearest its own group."""
    from ocr_spark.operators.pq import pq_encode

    emb = _pq_fixture(spark)
    out = pq_encode(emb, m=2, ksub=2, iters=1, vec_dims=8).collect()
    assert len(out) == 80  # 40 vectors x 2 subspaces
    codes = {(r.vec_id, r.sub): r.code for r in out}
    for i in range(40):
        a, b = (i >> 0) & 1, (i >> 1) & 1
        if i == 1:
            a, b = 1, 1  # the fixed-up seed row
        assert codes[(i, 0)] == a, (i, codes[(i, 0)])
        assert codes[(i, 1)] == b, (i, codes[(i, 1)])


def test_pq_ann_groups_share_scores_and_rank_by_id(spark):
    """Vectors with identical codes reconstruct identically, so they
    share one ADC score per query and rank by vec_id — the top-k for a
    query are the lowest-id members of its own planted combo group."""
    from ocr_spark.operators.pq import pq_ann_topk

    emb = _pq_fixture(spark)
    qs = emb.filter(F.col("vec_id") == 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    out = pq_ann_topk(
        emb, qs, k=5, m=2, ksub=2, iters=1, vec_dims=8
    ).collect()
    assert len(out) == 5
    # vec 4: a=4&1=0, b=(4>>1)&1=0 -> same-combo members are i = 0 mod
    # 4 (vec 1 was fixed up to combo (1,1), excluded anyway)
    combo = [
        i for i in range(40)
        if i != 4 and i != 1 and (i & 1) == 0 and ((i >> 1) & 1) == 0
    ]
    got = [r.vec_id for r in sorted(out, key=lambda r: r.rank)]
    assert got == combo[:5], got
    scores = {r.score for r in out}
    assert len(scores) == 1  # identical codes -> identical score


def test_pq_dead_code_disappears(spark):
    """Two identical seed vectors: code 1 empties at the first
    assignment (ties break to the smaller code) and must vanish from
    the final codebook; every vector encodes to code 0 and ann still
    answers."""
    from ocr_spark.operators.pq import pq_ann_topk, pq_codebooks, pq_encode

    rows = [(i, [1.0, 1.0, 0.5, 0.5]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = pq_codebooks(emb, m=2, ksub=2, iters=1, vec_dims=4)
    for s in range(2):
        assert [c for c, _ in books[s]] == [0]
    out = pq_encode(
        emb, m=2, ksub=2, iters=1, vec_dims=4, codebooks=books
    ).collect()
    assert all(r.code == 0 for r in out)
    qs = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    ann = pq_ann_topk(emb, qs, k=3, m=2, ksub=2, iters=1, vec_dims=4)
    assert [r.vec_id for r in ann.collect()] == [1, 2, 3]


def test_pq_refine_full_shortlist_equals_exact_topk(spark, sf001_dir):
    """With refine covering the whole corpus the shortlist hides
    nothing, so the re-ranked PQ result must equal brute-force
    cosine_topk row for row (same rounding, same tie-break)."""
    from ocr_spark.operators.pq import pq_ann_topk
    from ocr_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact = {
        (r.q_id, r.rank): (r.vec_id, r.cos)
        for r in cosine_topk(emb, qs, k=5).collect()
    }
    refined = {
        (r.q_id, r.rank): (r.vec_id, r.score)
        for r in pq_ann_topk(
            emb, qs, k=5, m=4, ksub=16, iters=1, vec_dims=64, refine=499
        ).collect()
    }
    assert refined == exact


def test_ivf_pq_probe_all_refine_all_equals_exact_topk(spark, sf001_dir):
    """With every list probed the candidate set is the whole corpus,
    and with refine covering it the ADC shortlist hides nothing — so
    the composed IVF+PQ result must equal brute-force cosine_topk row
    for row (same rounding, same tie-break). Pins both pruning stages:
    any assignment/probe/join slip loses a candidate and shows up as a
    row diff."""
    from ocr_spark.operators.pq import ivf_pq_topk
    from ocr_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact = {
        (r.q_id, r.rank): (r.vec_id, r.cos)
        for r in cosine_topk(emb, qs, k=5).collect()
    }
    composed = {
        (r.q_id, r.rank): (r.vec_id, r.score)
        for r in ivf_pq_topk(
            emb, qs, k=5, n_centroids=32, n_probe=32, m=4, ksub=16,
            iters=1, refine=499,
        ).collect()
    }
    assert composed == exact


def test_ivf_pq_prunes_scan_to_probed_lists(spark, sf001_dir):
    """With probe < lists the ADC scan must only see candidates from
    the query's probed lists: every returned neighbour's coarse list
    is one of the query's n_probe nearest centroids."""
    from ocr_spark.operators.pq import ivf_pq_topk
    from ocr_spark.operators.similarity import (
        _coarse_lists, _query_probes,
    )

    emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    lists, d = _coarse_lists(emb, 32)
    cid_of = {r.vec_id: r.cid for r in lists.collect()}
    probed = {}
    for r in _query_probes(emb, qs, 32, 4, d).collect():
        probed.setdefault(r.q_id, set()).add(r.cid)
    out = ivf_pq_topk(
        emb, qs, k=5, n_centroids=32, n_probe=4, m=4, ksub=16, iters=1
    ).collect()
    assert len(out) == 25
    for r in out:
        assert cid_of[r.vec_id] in probed[r.q_id], (r.q_id, r.vec_id)


def test_near_dup_keep_best_keeps_highest_quality_member(spark):
    """A 3-member near-dup cluster whose best-quality member is NOT
    the min id: keep-best must keep it (where near_dup_groups'
    canonical label would be the min id); an equal-quality pair ties
    to the smaller id; the unique doc survives untouched."""
    from ocr_spark.operators.dedup import near_dup_keep_best

    base = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank while the sun sets slowly behind the tall green hills"
    )
    rows = [
        (0, base + " alpha", 0.5),
        (1, base + " bravo", 0.9),   # best of the 0-1-2 cluster
        (2, base + " charlie", 0.7),
        (3, "completely different text about machine learning models "
            "training on large datasets with many many parameters ok", 0.4),
        (4, "completely different text about machine learning models "
            "training on large datasets with many many parameters ok", 0.4),
        (5, "a unique little document that resembles nothing else in "
            "this corpus and therefore must always simply survive", 0.1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, quality double"
    )
    kept = {
        r.doc_id
        for r in near_dup_keep_best(docs, "quality").select("doc_id").collect()
    }
    assert kept == {1, 3, 5}, kept
