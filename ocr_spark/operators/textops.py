"""Text-analysis operators for a training-data pipeline.

Language-ID (stopword-hit heuristic), quality scoring (token/alpha/
stopword ratios), token counting (whitespace split), and document
fingerprinting (md5 of the whitespace-canonicalized text). All pure
built-in column expressions — JVM-side, codegen'd, no UDFs — so they
push down, prune, and scale linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# Small English stopword list shared verbatim with the DuckDB oracles.
STOPWORDS = (
    "the a an and or of to in is it on for with as at by from this that",
)
STOPWORD_LIST = STOPWORDS[0].split()
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORD_LIST)

TOKENS = r"split(trim(text), '\\s+')"
# Lowercased variant shared by the retrieval / corpus-statistics ops
# (and their DuckDB oracles verbatim).
TOKENS_LC = r"split(lower(trim(text)), '\\s+')"


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Guard against under-partitioned inputs: a single small file scans
    as ONE partition, and everything computed map-side before the first
    shuffle (shingle/token/bigram explodes, the md5 minhash digests,
    simhash bit votes) then runs on one core. At real scale inputs have
    >= cluster parallelism partitions and this is a no-op.

    The signal is the scan's FILE COUNT (plan metadata, no job): a
    ``df.rdd.getNumPartitions()`` probe would force a plan->RDD
    conversion per operator call. Repartition only on a >= 4x deficit —
    large files are split by maxPartitionBytes anyway, so a
    few-files-short input does not justify shuffling the full corpus;
    non-file inputs (in-memory test relations) already parallelize to
    defaultParallelism slices and pass through untouched."""
    p = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if 0 < n_files * 4 <= p:
        return df.repartition(p)
    return df


def _bigram_stream(arr: DataFrame, *keys: str) -> DataFrame:
    """Adjacent-token bigram stream ``(*keys, term_a, term_b)`` from a
    relation carrying a token-array column ``t`` — shared by
    ``pmi_bigrams``, ``bigram_logprob`` and ``_dsir_features`` so the
    bigram definition cannot silently diverge between them. The
    size >= 2 filter is SEMANTIC, not an optimization: Spark's
    ``sequence(1, 0)`` is a DESCENDING [1, 0], not an empty array.
    Pairs containing an empty token drop."""
    return (
        arr.filter(F.size("t") >= 2)
        .select(
            *keys,
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(t[i-1] AS term_a, t[i] AS term_b))"
                )
            ).alias("bg"),
        )
        .select(*keys, "bg.term_a", "bg.term_b")
        .filter((F.col("term_a") != "") & (F.col("term_b") != ""))
    )


def _bigram_counts(df: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(arr, big, cab): the (doc_id, t) token arrays, their per-doc
    bigram stream and the corpus bigram counts (term_a, term_b, c_ab)."""
    arr = _ensure_parallelism(df).select(
        "doc_id", F.expr(TOKENS_LC).alias("t")
    )
    big = _bigram_stream(arr, "doc_id")
    cab = big.groupBy("term_a", "term_b").agg(
        F.count(F.lit(1)).alias("c_ab")
    )
    return arr, big, cab


def _doc_avg_logprob(
    stream: DataFrame, prob: DataFrame, on, n_col: str, avg_col: str
) -> DataFrame:
    """Per-doc count and round-4 average ``logp`` of a (doc_id, ...)
    stream joined to its probability table ``prob`` on ``on``."""
    return (
        stream.join(prob, on)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias(n_col),
            F.round(F.sum("logp") / F.count(F.lit(1)), 4).alias(avg_col),
        )
    )


def with_token_count(df: DataFrame) -> DataFrame:
    """n_tokens per document (whitespace tokenizer)."""
    return df.withColumn(
        "n_tokens",
        F.when(F.trim("text") == "", F.lit(0)).otherwise(
            F.size(F.expr(TOKENS))
        ),
    )


# BPE-ish pre-tokenizer classes (letter runs / digit runs / symbol runs),
# the portable core of GPT-2-style pre-tokenization — identical regex
# semantics in Spark and DuckDB.
BPE_ISH = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\r]+"


def with_token_count_bpe(df: DataFrame) -> DataFrame:
    """n_bpe_tokens per document: count of BPE-ish pre-token runs.

    A whitespace count underestimates LLM token budgets (punctuation and
    digit runs tokenize separately); this is the standard cheap proxy.
    """
    return df.withColumn(
        "n_bpe_tokens",
        F.size(F.expr(f"regexp_extract_all(text, '{BPE_ISH}', 0)")),
    )


def with_fingerprint(df: DataFrame) -> DataFrame:
    """Deterministic document fingerprint: md5 of lower + ws-collapsed."""
    return df.withColumn(
        "fingerprint",
        F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")),
    )


def with_lang_guess(df: DataFrame) -> DataFrame:
    """n-gram-free language ID heuristic: >=2 English stopword
    tokens -> 'en', else 'unknown'."""
    hits = F.expr(
        f"size(filter({TOKENS}, t -> lower(t) IN ({_STOP_SQL})))"
    )
    return df.withColumn("stop_hits", hits).withColumn(
        "lang_guess",
        F.when(F.col("stop_hits") >= 2, F.lit("en")).otherwise(
            F.lit("unknown")
        ),
    )


def _md5_int(c, n_hex: int, t: str = "long"):
    """The first ``n_hex`` hex digits of ``md5(c)`` as an integer of
    type ``t``: the engine-portable hash behind every deterministic
    selector and sketch here (md5 is bit-identical everywhere)."""
    return F.conv(F.substring(F.md5(c), 1, n_hex), 16, 10).cast(t)


def _case(pairs, default):
    """``CASE WHEN cond THEN value ... ELSE default END`` from
    (cond, value) pairs in order; ``default`` alone when there are
    none."""
    expr = None
    for cond, value in pairs:
        expr = F.when(cond, value) if expr is None else expr.when(cond, value)
    return F.lit(default) if expr is None else expr.otherwise(default)


def _hash_selector(key_col: str):
    """Deterministic per-row selector in [0, 65536): first 4 hex digits
    of md5(key). Engine-portable (md5 is bit-identical everywhere),
    stable across runs/partitions — the property random() lacks."""
    return _md5_int(F.col(key_col).cast("string"), 4, "int")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
) -> DataFrame:
    """Per-stratum deterministic sampling (training-data curation: e.g.
    keep 60%% of long documents but 20%% of short ones). Strata absent
    from ``rates`` are dropped. Pure projection + filter: no shuffle,
    fully pushed down."""
    threshold = _case(
        (
            (F.col(strata_col) == value, F.lit(int(rate * 65536)))
            for value, rate in rates.items()
        ),
        F.lit(0),
    )
    return df.filter(_hash_selector("doc_id") < threshold)


def hash_split(
    df: DataFrame,
    splits: dict[str, float],
    key_col: str = "doc_id",
) -> DataFrame:
    """Leakage-safe deterministic train/val/test split.

    Adds a ``split`` column: the md5 selector of ``key_col`` (16 bits,
    [0, 65536)) is cut into cumulative intervals in ``splits`` dict
    order; everything above the last boundary gets ``train``. Because
    the selector is KEYED (not row-random), the split is
    group-coherent: key it on a group id (conv_id, orderkey, url host)
    and every row of the group lands in the same split — the property
    that keeps near-identical rows of one group out of both train and
    eval. Pure projection: no shuffle, no state, reproducible across
    runs, partitionings and engines (md5 is bit-identical everywhere).

    At 100 TB this is the only split design that works: a random()
    split is neither reproducible nor group-coherent, and a join
    against a precomputed assignment table is a pointless shuffle.
    """
    sel = _hash_selector(key_col)
    lo, arms = 0, []
    for name, frac in splits.items():
        hi = lo + int(frac * 65536)
        arms.append(((sel >= F.lit(lo)) & (sel < F.lit(hi)), F.lit(name)))
        lo = hi
    return df.withColumn("split", _case(arms, F.lit("train")))


def shard_assign(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    salt: str = "",
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Reproducible training-order materialization: deterministic
    corpus shuffle + shard/position assignment.

    Training runs need the corpus in a fixed pseudo-random order,
    split into ``n_shards`` files, resumable by (shard, pos). A global
    ``ORDER BY random()`` is neither: not reproducible, and a global
    row_number forces every row through ONE partition. Instead:
    ``h = md5(key # salt)`` is the shuffle key; ``shard`` = first 8
    hex digits of h mod n_shards (uniform, deterministic); ``pos`` =
    row_number within the shard ordered by (h, key). The only shuffle
    is the window's partition-by-shard exchange — each shard sorts
    independently, so the plan scales with n_shards (set n_shards >=
    cluster parallelism; 10k shards at 100 TB = 10 GB sorts each).
    Changing ``salt`` reshuffles every epoch, same plan. ``by`` adds
    extra window-partition columns (e.g. a train/val/test ``split``
    label) so positions are contiguous within each (by..., shard)
    group — the shape a per-split data loader needs.
    """
    salted = F.concat(F.col(key_col).cast("string"), F.lit("#" + salt))
    h = F.md5(salted)
    shard = (_md5_int(salted, 8) % n_shards).cast("int")
    out = df.withColumn("shuffle_key", h).withColumn("shard", shard)
    w = Window.partitionBy(*by, "shard").orderBy("shuffle_key", key_col)
    return out.withColumn("pos", F.row_number().over(w)).drop(
        "shuffle_key"
    )


def domain_mix(
    df: DataFrame,
    budget_tokens: float,
) -> DataFrame:
    """Derived-rate domain rebalancing (training-mix shaping): sample
    each domain down to ~``budget_tokens`` whitespace tokens.

    Unlike :func:`stratified_sample` (caller-supplied rates), the
    per-domain rate is DERIVED from the corpus itself:
    ``rate = min(1, budget / domain_token_total)`` — over-represented
    domains are thinned toward the budget, domains already under budget
    keep every row (floor(1.0 * 65536) = 65536 > any selector value).

    Plan: one domain-count-sized aggregate (hash-agg with map-side
    partials), broadcast back onto the corpus, then the same
    deterministic md5-threshold selector as :func:`stratified_sample` — one
    pass over the data, no shuffle of the corpus itself, reproducible
    across runs and partitionings. ``floor`` (not cast) fixes the
    threshold: Spark's double→int cast truncates while DuckDB's rounds,
    so an explicit floor on both engines is the portable choice.

    Returns the sampled rows as (key, domain, domain_tokens).
    """
    toked = with_token_count(df)
    totals = toked.groupBy("source").agg(
        F.sum("n_tokens").alias("domain_tokens")
    )
    rates = totals.withColumn(
        "threshold",
        F.floor(
            F.least(
                F.lit(1.0),
                F.lit(float(budget_tokens)) / F.col("domain_tokens"),
            )
            * F.lit(65536.0)
        ).cast("int"),
    )
    return (
        toked.join(F.broadcast(rates), "source")
        .filter(_hash_selector("doc_id") < F.col("threshold"))
        .select("doc_id", "source", "domain_tokens")
    )


def token_budget_mix(
    df: DataFrame,
    budget_tokens: int,
) -> DataFrame:
    """EXACT token-budget mix building: take documents per domain, in
    deterministic hash order, until the domain's running token total
    reaches ``budget_tokens`` — the "assemble a 300B-token mix with
    exactly this many tokens of code / web / books" operator (the
    Pile/LLaMA mix tables are token budgets, not doc rates).

    :func:`domain_mix` is the RATE-based sibling (one derived
    keep-probability per domain — cheap, but the realized token count
    wanders by sampling noise); this one is exact-by-construction: docs
    order by ``md5(key)`` (a deterministic uniform shuffle, so the
    prefix is an unbiased sample) and a per-domain running sum keeps
    every doc whose PRE-sum is still under budget — so the budget is
    always reached or exhausted, overshooting by at most one document.

    Returns kept rows only: (key, domain, n_tokens, cum_tokens) with
    cum_tokens the inclusive running total (== realized mix size on
    the last kept doc of each domain).

    Scale shape — a DISTRIBUTED running sum, not one sort per domain
    (a plain per-domain window caps parallelism at the domain count
    and sorts the whole corpus to keep a small prefix): the hash
    order's first ``bucket_chars`` hex digits split each domain into
    256 uniform buckets whose order REFINES the (h, key) order, so
    global cum = (exclusive prefix sum of whole earlier buckets)
    + (running sum within my bucket). Per-(domain, bucket) token
    totals are one tiny hash-agg (256 x domains rows); their prefix
    sums broadcast back; buckets whose offset already exceeds the
    budget are PRUNED BEFORE the window — only the ~budget-sized
    prefix of each domain is ever sorted, in 256-way parallel
    (domain, bucket) partitions of narrow ~60 B rows (text never
    shuffles). Identical output to the one-window form by integer
    arithmetic; the 2M-doc soak pins kept-set equality with a pure
    python greedy. Cost of the design: the input scans twice (once
    for the bucket totals, once for the probe) — two map-only passes
    in exchange for zero corpus-wide sorts; persist the input if its
    upstream is expensive.
    """
    bucket_chars = 2
    toked = with_token_count(df).select(
        "doc_id",
        "source",
        "n_tokens",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    ).withColumn("bucket", F.substring("h", 1, bucket_chars))
    totals = toked.groupBy("source", "bucket").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    wb = Window.partitionBy("source").orderBy("bucket")
    offsets = totals.withColumn(
        "offset",
        F.coalesce(
            F.sum("bucket_tokens").over(
                wb.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).filter(F.col("offset") < F.lit(int(budget_tokens)))
    w = (
        Window.partitionBy("source", "bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        toked.join(
            F.broadcast(offsets.select("source", "bucket", "offset")),
            ["source", "bucket"],
        )
        .withColumn(
            "cum_tokens", F.col("offset") + F.sum("n_tokens").over(w)
        )
        .filter(
            F.col("cum_tokens") - F.col("n_tokens")
            < F.lit(int(budget_tokens))
        )
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


def domain_upsample(
    df: DataFrame,
    factors: dict[str, float],
) -> DataFrame:
    """Per-domain repetition-factor mixing, the UP-sampling half of mix
    building (LLaMA trains Wikipedia for ~2.4 epochs while CommonCrawl
    gets <1; :func:`domain_mix` only thins): every document of a domain
    with factor f appears floor(f) times always, plus one extra time
    for a deterministic hash-selected frac(f) of documents. Domains
    absent from ``factors`` pass through once (f = 1).

    Emits (key, domain, epoch) with epoch in [0, floor(f)]; a loader
    treats each (key, epoch) as an independent training occurrence
    (shuffle them apart with :func:`shard_assign` keyed on both). A
    factor < 1 degenerates to deterministic rate sampling (0 or 1
    occurrences). The fractional-epoch selector is a 16-bit md5
    selector SALTED with ``#up`` — reproducible and group-coherent in
    ``doc_id``, but statistically independent of the UNsalted
    selector :func:`hash_split`/:func:`stratified_sample` use on the same
    key (unsalted, the extra-epoch subset would coincide exactly with
    a val/test split or a sample cut of matching fraction — the same
    reason :func:`shard_assign` salts its shuffle hash).

    Scale shape: pure map + in-row ``sequence`` explode — zero
    shuffle, no joins (the factor table compiles into literal CASE
    expressions); output size is exactly sum over domains of
    round-to-hash(f) * n_domain. The n_epochs >= 1 guard is SEMANTIC:
    Spark's ``sequence(0, -1)`` is a DESCENDING [0, -1], not empty.
    """
    full_arms, frac_arms = [], []
    for dom, f in factors.items():
        if f < 0:
            raise ValueError(f"negative factor for {dom!r}: {f}")
        nf = int(f)
        cond = F.col("source") == dom
        full_arms.append((cond, F.lit(nf)))
        frac_arms.append((cond, F.lit(int((f - nf) * 65536))))
    n_full = _case(full_arms, F.lit(1))
    frac_thr = _case(frac_arms, F.lit(0))
    sel_up = _md5_int(
        F.concat(F.col("doc_id").cast("string"), F.lit("#up")), 4, "int"
    )
    extra = (sel_up < frac_thr).cast("int")
    out = df.select(
        "doc_id",
        "source",
        (n_full + extra).alias("n_epochs"),
    ).filter(F.col("n_epochs") >= 1)
    return out.select(
        "doc_id",
        "source",
        F.explode(F.expr("sequence(0, n_epochs - 1)")).alias("epoch"),
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    domain_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis
    & Spirakis '06): each row races with key ln(u)/w — u a 48-bit
    md5-uniform in (0, 1], w its weight — and the k largest win;
    inclusion probability is proportional to weight, the standard
    "sample the corpus proportional to quality score" curation
    operator. With ``domain_col``, k rows per domain. Deterministic,
    reproducible, engine-portable (same md5-derived u and the same
    IEEE expression both engines; DSIR's md5-Gumbel top-k is the same
    discipline).

    Returns (key, [domain,] weight, es_key(rounded 6 dp), rk).

    Scale shape, both variants distributed-heap top-k, never a
    monolithic sort: per-domain, the rank-filter compiles to
    ``WindowGroupLimit`` Partial+Final (plan-pinned) — each input
    partition keeps only its local top-k BEFORE the shuffle, so the
    exchange moves O(partitions x k) rows regardless of corpus size.
    Global, a window would be ONE partition (WindowGroupLimit does
    not fire on an empty partition spec — measured), so the race is
    ``orderBy().limit(k)`` instead: Spark executes TakeOrdered
    (per-partition heap + driver merge of k-row heads, the
    ``vocab_topk`` discipline) and the rank attaches over the k-row
    result. Weights must be > 0 (rows with w <= 0 or NULL are
    dropped — they have zero inclusion probability).
    """
    u = (_md5_int(F.col("doc_id").cast("string"), 12) + 1) / F.lit(
        float(1 << 48)
    )
    es = F.log(u) / F.col(weight_col)
    raced = df.filter(F.col(weight_col) > 0).withColumn(
        "es_key_raw", es
    )
    order = [F.col("es_key_raw").desc(), F.col("doc_id").asc()]
    if domain_col:
        w = Window.partitionBy(domain_col).orderBy(*order)
        out = raced.withColumn("rk", F.row_number().over(w)).filter(
            F.col("rk") <= k
        )
        cols = ["doc_id", domain_col, weight_col]
    else:
        top = raced.orderBy(*order).limit(k)
        out = top.withColumn(
            "rk", F.row_number().over(Window.orderBy(*order))
        )
        cols = ["doc_id", weight_col]
    # float32 cast, not round(6): bit-exact cross-engine contract
    return out.select(
        *cols, F.col("es_key_raw").cast("float").alias("es_key"), "rk"
    )


def doc_chunks(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Context-window chunking with overlap — the long-document
    splitter every embedding/training prep runs (a doc longer than the
    model window becomes strided chunks; ``overlap`` tokens repeat at
    each boundary so no span is ever cut mid-context). Chunk i covers
    tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; docs at or under the window emit
    exactly one chunk (rows never dropped — blank docs emit one empty
    chunk), and the last chunk clips at the end, so every token
    appears in at least one chunk.

    Emits (doc_id, chunk_idx, chunk_text, n_chunk_tokens).

    Scale shape: PURE MAP — the chunk list builds in-row
    (transform over a sequence of starts + array slice), one explode,
    zero shuffle, no UDFs. chunk count is an exact integer formula
    (1 + ceil((n - chunk)/stride)) mirrored in the oracle; the double
    division inside ceil is exact for any document shorter than 2^52
    tokens.
    """
    if not 0 <= int(overlap) < int(chunk_tokens):
        # a negative overlap would stride PAST chunk ends and silently
        # leave uncovered token gaps — reject both directions
        raise ValueError(
            f"overlap {overlap} must be in [0, chunk_tokens"
            f" {chunk_tokens})"
        )
    stride = int(chunk_tokens) - int(overlap)
    c, s = int(chunk_tokens), stride
    arr = _ensure_parallelism(df).withColumn(
        "_t", F.expr(TOKENS)
    )
    n = F.size("_t")
    n_chunks = F.when(n <= c, F.lit(1)).otherwise(
        F.ceil((n - F.lit(c)).cast("double") / F.lit(float(s))).cast(
            "int"
        )
        + 1
    )
    return (
        arr.withColumn("_nc", n_chunks)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, _nc - 1), "
                    f"i -> struct(i AS chunk_idx, "
                    f"slice(_t, i * {s} + 1, {c}) AS ck))"
                )
            ).alias("_e"),
        )
        .select(
            "doc_id",
            F.col("_e.chunk_idx").alias("chunk_idx"),
            F.expr("array_join(_e.ck, ' ')").alias("chunk_text"),
            F.expr("size(_e.ck)").alias("n_chunk_tokens"),
        )
    )


def corpus_stats(df: DataFrame) -> DataFrame:
    """One-pass corpus profiling (the mix-sheet a pipeline operator
    reads before choosing budgets/factors): per-domain doc count, token
    totals and spread, and quality aggregates — one hash-agg with
    map-side partials, nothing corpus-sized leaves the executors.

    avg columns round 3 dp: group sums of O(1) doubles sit ~1e-13 from
    a 5e-4 rounding boundary, so the cross-engine agg-order risk is
    negligible at any group size that fits a BIGINT count.
    """
    d = with_quality(with_token_count(df))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.round(F.avg("n_tokens"), 3).alias("avg_tokens"),
        F.round(F.avg("quality"), 3).alias("avg_quality"),
        F.sum((F.col("quality") >= 0.5).cast("long")).alias(
            "n_high_quality"
        ),
    )


def quality_select(
    df: DataFrame,
    frac: float = 0.5,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Within-domain top-fraction quality selection — the
    FineWeb-Edu / phi-style "keep the best-scoring X% of every source"
    gate (Penedo et al. '24 threshold a learned edu score; with the
    repo's deterministic :func:`with_quality` score standing in for the
    classifier). Selecting per-domain rather than globally is the
    point: a global cut empties low-scoring-but-wanted domains (code,
    forums) and keeps only encyclopedia prose.

    keep = rank <= ceil(frac * n_domain), rank ordered by
    (quality DESC, key ASC) — the tie-break makes the boundary
    deterministic and engine-portable (quality is already rounded 4 dp
    inside :func:`with_quality`).

    Returns kept rows only: (key, domain, quality, rk, *keep) —
    ``keep`` names extra input columns carried through (e.g. the text,
    when a downstream composition stage still needs it); rk is the
    exact per-domain (quality DESC, key ASC) rank.

    Scale shape — a COUNT-TABLE rank, not one sort per domain (a
    per-domain window caps parallelism at the domain count and sorts
    the whole corpus): quality is 4 dp-rounded, so distinct
    (domain, quality) pairs number at most 10^4 x domains. One tiny
    hash-agg counts them; an exclusive prefix sum over that table
    (quality DESC) gives each score level its starting rank
    ``cum_above`` and the domain total; the table broadcasts back and
    levels that start at or past the cut are PRUNED before any
    corpus-wide sort. rk = cum_above + row_number within the
    (domain, quality) level ordered by key — fine-grained uniform
    window partitions over only the surviving ~frac of rows, narrow
    projection, text never shuffles. NULL scores (empty text) rank
    last via a -1 sentinel level, matching desc_nulls_last. Cost of
    the design: the scored input computes twice (count pass + probe
    pass) — two map-only passes in exchange for zero corpus-wide
    sorts; persist upstream if scoring is expensive.
    """
    scored = with_quality(df).select(
        "doc_id", "source", "quality", *keep
    ).withColumn("qv", F.coalesce(F.col("quality"), F.lit(-1.0)))
    counts = scored.groupBy("source", "qv").agg(
        F.count(F.lit(1)).alias("n_level")
    )
    wq = Window.partitionBy("source").orderBy(F.col("qv").desc())
    levels = (
        counts.withColumn(
            "cum_above",
            F.coalesce(
                F.sum("n_level").over(
                    wq.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "n_domain",
            F.sum("n_level").over(
                Window.partitionBy("source").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .withColumn(
            "cut", F.ceil(F.lit(float(frac)) * F.col("n_domain"))
        )
        .filter(F.col("cum_above") < F.col("cut"))
        .select("source", "qv", "cum_above", "cut")
    )
    wl = Window.partitionBy("source", "qv").orderBy(
        F.col("doc_id").asc()
    )
    return (
        scored.join(F.broadcast(levels), ["source", "qv"])
        .withColumn(
            "rk",
            (F.col("cum_above") + F.row_number().over(wl)).cast("int"),
        )
        .filter(F.col("rk") <= F.col("cut"))
        .select("doc_id", "source", "quality", "rk", *keep)
    )


# hashed-feature space of the dsir_* and nb_quality count tables
_DSIR_BUCKETS = 10_000


def _dsir_features(df: DataFrame) -> DataFrame:
    """Hashed uni+bigram feature stream (doc_id, bucket) — DSIR's
    bag-of-hashed-ngrams representation (Xie et al. '23 §2.2).

    r6: both feature families come out of ONE in-row concat + ONE
    explode — the old two-branch union scanned and tokenized the
    source twice per call (and nb_quality calls this three times).
    The multiset of features is identical: ``filter(t, x <> '')`` is
    the uni branch, the guarded bigram transform is ``_bigram_stream``
    verbatim (size >= 2 CASE because ``sequence(1, 0)`` is a
    DESCENDING [1, 0]; pairs with an empty token drop), and every
    consumer aggregates, so row order never matters."""
    arr = _ensure_parallelism(df).select(
        "doc_id", F.expr(TOKENS_LC).alias("t")
    )
    feats = F.expr(
        "concat("
        "filter(t, x -> x <> ''), "
        "CASE WHEN size(t) >= 2 THEN transform("
        "filter(transform(sequence(1, size(t) - 1), "
        "i -> struct(t[i-1] AS a, t[i] AS b)), "
        "p -> p.a <> '' AND p.b <> ''), "
        "p -> concat(p.a, ' ', p.b)) "
        "ELSE slice(t, 1, 0) END)"
    )
    return arr.select("doc_id", F.explode(feats).alias("f")).select(
        "doc_id",
        (_md5_int("f", 8) % _DSIR_BUCKETS).alias("bucket"),
    )


def dsir_logweights(
    raw: DataFrame,
    target: DataFrame,
) -> DataFrame:
    """DSIR importance log-weights (Xie et al. NeurIPS '23, "Data
    Selection for Language Models via Importance Resampling"): score
    every raw document by how much more likely its hashed-ngram
    features are under the TARGET distribution than under the raw
    pool's own — the principled "select data that looks like the
    domain I care about" operator, one level up from threshold filters
    like ``gopher_rules``.

    logw(doc) = sum over features f of ln(p_t(b(f)) / p_r(b(f))),
    with p_x(b) = (c_x(b) + 1) / (T_x + B) over B = ``_DSIR_BUCKETS``
    hash buckets (add-one smoothing, so target-unseen buckets penalize rather
    than zero out).

    Returns (doc_id, n_features, logw); feature-less docs drop.

    Plan shape: both bucket-count tables compress map-side to at most
    B rows per partition (hash-agg partials over a
    fixed-size key space — the whole point of feature hashing at
    100 TB), totals are single rows, and the log-ratio table is
    B-sized so it BROADCASTS onto the raw feature stream; the
    only corpus-sized shuffle is the final per-doc agg.
    """
    feats_r = _dsir_features(raw)
    feats_t = _dsir_features(target)
    counts_r = feats_r.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_r")
    )
    counts_t = feats_t.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_t")
    )
    # totals derive from the (B-sized) count tables, NOT from
    # another pass over the corpus feature stream — the raw stream
    # already has two consumers (its own counts + the scoring join),
    # and each extra consumer re-executes the tokenize/explode map
    tot_r = counts_r.agg(F.sum("c_r").alias("tr"))
    tot_t = counts_t.agg(F.sum("c_t").alias("tt"))
    denom = float(_DSIR_BUCKETS)
    ratio = (
        counts_r.join(counts_t, "bucket", "left")
        .crossJoin(F.broadcast(tot_r))
        .crossJoin(F.broadcast(tot_t))
        .select(
            "bucket",
            F.log(
                (
                    (F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(1.0))
                    / (F.col("tt") + F.lit(denom))
                )
                / (
                    (F.col("c_r") + F.lit(1.0))
                    / (F.col("tr") + F.lit(denom))
                )
            ).alias("logr"),
        )
    )
    return (
        feats_r.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.round(F.sum("logr"), 4).alias("logw"),
        )
    )


def dsir_sample(
    raw: DataFrame,
    target: DataFrame,
    k: int = 100,
) -> DataFrame:
    """DSIR selection: Gumbel top-k over the importance log-weights =
    sampling WITHOUT replacement proportional to the importance ratio
    (the Gumbel-max trick, exactly Xie et al.'s sampler). The Gumbel
    noise is DETERMINISTIC — u = (md5_32('g#'||doc_id) + 0.5) / 2^32,
    g = -ln(-ln(u)) — so the sample is reproducible, partition-
    independent, and sits under the exact DuckDB gate like every other
    sampling op here (`_hash_selector` discipline applied to Gumbel).

    Returns the k selected rows as (doc_id, n_features, logw, key),
    key = round(logw + g, 4); top-k is `orderBy().limit(k)` =
    TakeOrderedAndProject, never a global sort.
    """
    w = dsir_logweights(raw, target)
    u = (
        _md5_int(F.concat(F.lit("g#"), F.col("doc_id").cast("string")), 8)
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    key = F.round(F.col("logw") - F.log(-F.log(u)), 4)
    return (
        w.withColumn("key", key)
        .orderBy(F.col("key").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def nb_quality(
    docs: DataFrame,
    pos: DataFrame,
    neg: DataFrame,
) -> DataFrame:
    """Learned quality classifier: multinomial Naive Bayes over hashed
    uni+bigram features — the fastText-style classifier-filter class of
    the GPT-3 / LLaMA pipelines (Brown et al. '20 App. A trains LR
    against WebText; Touvron et al. '23 a Wikipedia-reference
    classifier), the third standard filter family next to rule gates
    (``with_gopher_rules``) and importance ratios (``dsir_*``). NB
    scoring is pure count arithmetic — log p(c) + sum_f log p(f|c)
    with add-one smoothing — so unlike fastText it is fully
    SQL-expressible and sits under the exact DuckDB gate.

    score(doc) = ln(Np/Nn) + sum_f [ln p(f|pos) - ln p(f|neg)],
    p(f|c) = (count_c(bucket(f)) + 1) / (T_c + B), B = ``_DSIR_BUCKETS``.

    Returns (doc_id, n_features, log_odds, pred_clean) with
    ``log_odds`` rounded 4 dp (the ``unigram_logprob`` float-portability
    convention) and ``pred_clean = log_odds >= 0`` computed FROM the
    rounded value so both engines threshold the same number;
    feature-less docs drop (as in ``dsir_logweights``).

    Plan shape (the ``dsir_logweights`` scale argument): both class
    count tables compress map-side to the fixed 10k bucket space, the
    log-likelihood-ratio table is built over the FULL bucket domain
    (``spark.range(B)``, so buckets unseen in training still
    contribute the smoothed prior ratio instead of silently dropping
    scored features) and BROADCASTS onto the doc feature stream;
    totals/priors are single rows; the only corpus-sized shuffle is
    the per-doc agg.
    """
    feats_p = _dsir_features(pos)
    feats_n = _dsir_features(neg)
    cp = feats_p.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_p"))
    cn = feats_n.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_n"))
    tp = cp.agg(F.sum("c_p").alias("tp"))
    tn = cn.agg(F.sum("c_n").alias("tn"))
    prior = (
        pos.agg(F.count(F.lit(1)).alias("np"))
        .crossJoin(neg.agg(F.count(F.lit(1)).alias("nn")))
        .select(F.log(F.col("np") / F.col("nn")).alias("prior"))
    )
    denom = float(_DSIR_BUCKETS)
    base = docs.sparkSession.range(_DSIR_BUCKETS).select(
        F.col("id").alias("bucket")
    )
    llr = (
        base.join(cp, "bucket", "left")
        .join(cn, "bucket", "left")
        .crossJoin(F.broadcast(tp))
        .crossJoin(F.broadcast(tn))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("c_p"), F.lit(0)) + F.lit(1.0))
                    / (F.col("tp") + F.lit(denom))
                )
                - F.log(
                    (F.coalesce(F.col("c_n"), F.lit(0)) + F.lit(1.0))
                    / (F.col("tn") + F.lit(denom))
                )
            ).alias("llr"),
        )
    )
    scored = (
        _dsir_features(docs)
        .join(F.broadcast(llr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum("llr").alias("_s"),
        )
    )
    return scored.crossJoin(F.broadcast(prior)).select(
        "doc_id",
        "n_features",
        F.round(F.col("_s") + F.col("prior"), 4).alias("log_odds"),
        (F.round(F.col("_s") + F.col("prior"), 4) >= 0).alias(
            "pred_clean"
        ),
    )


def vocab_topk(df: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary top-k by occurrence count (tokenizer-training /
    corpus-inspection shape). Distributed top-k: groupBy(token) hash-agg
    (map-side partial) then ``orderBy(...).limit(k)`` — Spark executes a
    per-partition TakeOrdered + driver merge of k-row heads, NEVER a
    single-partition global sort. Total order (count desc, token asc)
    makes the boundary deterministic."""
    toks = df.select(F.explode(F.expr(TOKENS)).alias("token")).filter(
        F.col("token") != ""
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(k)
    )


def js_divergence(
    df: DataFrame,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Jensen-Shannon divergence between two document groups' unigram
    distributions — the corpus-comparison statistic (domain shift,
    dump-over-dump drift, did-my-filter-change-the-distribution): 0 for
    identical distributions, ln(2) for disjoint vocabularies, symmetric
    and always finite (unlike KL, which diverges the moment one group
    has a word the other lacks — with p or q zero the term's
    contribution is defined by continuity and handled explicitly).

        JSD = 1/2 Σ_w p(w) ln(p/m) + 1/2 Σ_w q(w) ln(q/m),  m = (p+q)/2

    Scale shape: ONE pass over the token stream — per-term conditional
    counts (c_a, c_b) come from a single hash-agg with map-side
    partials (never one count table per group joined), group totals
    are a 2-row broadcast, the final Σ is a single-row agg. Returns
    one row (group_a, group_b, n_vocab, tokens_a, tokens_b, jsd)
    rounded 6 dp (term sums land ~1e-12 of the boundary at worst —
    the corpus_stats rounding argument).
    """
    toks = (
        _ensure_parallelism(df)
        .filter(F.col("source").isin([group_a, group_b]))
        .select(
            F.col("source").alias("g"),
            F.explode(F.expr(TOKENS_LC)).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    counts = toks.groupBy("term").agg(
        F.count(F.when(F.col("g") == group_a, 1)).alias("ca"),
        F.count(F.when(F.col("g") == group_b, 1)).alias("cb"),
    )
    tots = counts.agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb")
    )
    terms = counts.crossJoin(F.broadcast(tots)).select(
        "ca",
        "cb",
        "ta",
        "tb",
        (F.col("ca") / F.col("ta")).alias("p"),
        (F.col("cb") / F.col("tb")).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / F.lit(2.0)
    contrib = F.lit(0.5) * (
        F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / m))
        .otherwise(F.lit(0.0))
        + F.when(F.col("q") > 0, F.col("q") * F.log(F.col("q") / m))
        .otherwise(F.lit(0.0))
    )
    return terms.agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.max("ta").alias("tokens_a"),
        F.max("tb").alias("tokens_b"),
        F.round(F.sum(contrib), 6).alias("jsd"),
    ).select(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        "n_vocab",
        "tokens_a",
        "tokens_b",
        "jsd",
    )


def oov_rate(df: DataFrame, vocab_size: int = 1000) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-``vocab_size`` vocabulary — the tokenizer-fit / domain-shift
    signal (a doc whose tokens a tokenizer trained on this corpus
    would fragment; high OOV flags boilerplate-junk, code-in-prose,
    or off-domain text).

    Vocabulary = top-V lowercased tokens by occurrence count with the
    (count desc, term asc) total order of :func:`vocab_topk` — a
    distributed TakeOrdered, never a global sort — then BROADCAST into
    the token stream (V rows by construction); per-doc aggregation is
    one hash-agg with map-side partials. Returns
    (doc_id, n_tokens, n_oov, oov_rate round-4); token-less docs drop
    (the ``unigram_logprob`` convention).
    """
    arr = _ensure_parallelism(df).select(
        "doc_id", F.expr(TOKENS_LC).alias("t")
    )
    toks = arr.select("doc_id", F.explode("t").alias("term")).filter(
        F.col("term") != ""
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("term").asc())
        .limit(vocab_size)
        .select("term", F.lit(1).alias("iv"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("iv").isNull(), 1)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 4).alias(
                "oov_rate"
            ),
        )
    )


def zipf_fit(df: DataFrame, top_r: int = 100) -> DataFrame:
    """OLS fit of the Zipf rank-frequency law over the corpus's top
    ``top_r`` token ranks: regress ln(count) on ln(rank); a healthy
    natural-language corpus fits slope ~ -1 with high R^2, while
    template/boilerplate-dominated or synthetic dumps bend the curve —
    a one-row corpus-health statistic for curation dashboards (and a
    cheap drift alarm between ingest snapshots).

    Returns ONE row (n_ranks, slope, intercept, r2): closed-form OLS
    from the five sufficient sums; outputs pass the float32 cross-
    engine cast (sum order may differ per engine by ~1e-15 relative —
    invisible on the float32 grid; a decimal round could tie-diverge).
    Degenerate fits (fewer than 2 ranks, or zero x-variance) yield
    NULL slope/intercept/r2 on both engines rather than an
    engine-specific inf.

    Plan shape: one corpus-scale token pass (explode -> tf hash-agg
    with map-side partials), a distributed TakeOrdered for the top-R
    boundary ((count desc, term asc) total order), then the regression
    is a single tiny aggregate over R rows. Nothing corpus-sized
    sorts.
    """
    toks = _ensure_parallelism(df).select(
        F.explode(F.expr(TOKENS_LC)).alias("term")
    ).filter(F.col("term") != "")
    tf = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term").asc())
        .limit(top_r)
    )
    # rank within the R-row head: the window runs over <= top_r rows
    w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    xy = tf.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    sums = xy.agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    terms = sums.select(
        "nd",
        (F.col("nd") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
            "num"
        ),
        (F.col("nd") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "denx"
        ),
        (F.col("nd") * F.col("syy") - F.col("sy") * F.col("sy")).alias(
            "deny"
        ),
        "sx",
        "sy",
    )
    slope = F.when(F.col("denx") != 0.0, F.col("num") / F.col("denx"))
    return terms.select(
        F.col("nd").cast("long").alias("n_ranks"),
        slope.cast("float").alias("slope"),
        (
            (F.col("sy") - slope * F.col("sx")) / F.col("nd")
        ).cast("float").alias("intercept"),
        F.when(
            (F.col("denx") != 0.0) & (F.col("deny") != 0.0),
            (F.col("num") * F.col("num"))
            / (F.col("denx") * F.col("deny")),
        ).cast("float").alias("r2"),
    )


def ngram_topk(df: DataFrame, n: int = 3, k: int = 100) -> DataFrame:
    """Corpus most-frequent word n-grams — the boilerplate-discovery /
    corpus-inspection operator (the top trigrams of a web dump ARE its
    cookie banners; Dodge et al. '21 profile C4 exactly this way), and
    the candidate source for phrase-vocabulary construction.

    Grams form over the empty-stripped lowercased token stream (an
    in-row transform over a token-array slice — no positional
    self-join), then one hash-agg with map-side partials and a
    distributed TakeOrdered: ``orderBy(n desc, gram asc).limit(k)``
    ships one k-row head per partition to the driver, never a global
    sort. Total order (count desc, gram asc) pins the boundary
    deterministically on both engines.

    Returns (gram, n_occurrences).
    """
    arr = (
        _ensure_parallelism(df)
        .select(
            F.expr(f"filter({TOKENS_LC}, x -> x != '')").alias("t")
        )
        .filter(F.size("t") >= n)
    )
    grams = arr.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, size(t) - {n}), "
                f"j -> concat_ws(' ', slice(t, j + 1, {n})))"
            )
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("gram").asc())
        .limit(k)
    )


# unicode_clean's 1:1 character canonicalizations, one translate()
# pass: curly quotes -> straight, en/em dash -> '-', six unicode
# space variants (nbsp, thin, hair, en, em, ideographic) AND the
# horizontal tab -> ' ' (a lone edge tab would otherwise survive
# trim and the space-run collapse).
# Shared verbatim (as chr() codepoints) with the DuckDB oracle.
_UC_FROM = (
    "\u2018\u2019\u201c\u201d\u2013\u2014"
    "\u00a0\u2009\u200a\u2002\u2003\u3000\t"
)
_UC_TO = "''\"\"--       "
# Width-changing removals, one regex class: zero-width space/joiners,
# BOM, soft hyphen, and C0/C1-ish control chars except \t \n \r.
_UC_STRIP = (
    "[\u200b\u200c\u200d\ufeff\u00ad"
    "\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"
)


def unicode_clean(df: DataFrame) -> DataFrame:
    """Deterministic unicode text canonicalization — the ftfy-lite
    pre-dedup normalizer every web pipeline runs first (Dolma/RefinedWeb
    normalize before fingerprinting so that a zero-width-space variant
    of a page is not a "distinct" document): smart quotes/dashes and
    unicode space variants map to ASCII, zero-width characters / BOM /
    soft hyphens / control chars strip, horizontal whitespace runs
    collapse, edges trim. Ellipsis expands to '...' so downstream
    sentence-punctuation rules (C4) see it.

    Exactly one translate pass + two regex passes + one literal
    replace, all JVM built-ins inside whole-stage codegen — a pure map,
    zero shuffle, and the regexes are shared semantics with RE2 (the
    oracle runs the same classes in DuckDB).

    Adds text_clean + n_chars_clean; never drops rows.
    """
    df = _ensure_parallelism(df)
    c = F.translate(F.col("text"), _UC_FROM, _UC_TO)
    c = F.regexp_replace(c, _UC_STRIP, "")
    c = F.regexp_replace(c, "\u2026", "...")
    c = F.trim(F.regexp_replace(c, " {2,}", " "))
    return df.withColumn("text_clean", c).withColumn(
        "n_chars_clean", F.length("text_clean").cast("long")
    )


def unigram_logprob(df: DataFrame) -> DataFrame:
    """Per-document average unigram log-probability under the corpus's
    own unigram distribution — the self-contained stand-in for the
    LM-perplexity quality filter (CCNet, Wenzek et al. '19 trains a
    KenLM; with no external model the corpus unigram LM is the honest
    offline proxy). Low (very negative) scores = rare-token-heavy docs;
    near-zero = docs made of the corpus's most common tokens.

    Two corpus-sized aggregates (term frequencies, total token count —
    both hash-aggs with map-side partials, the second a single row),
    then the token stream joins the vocabulary-keyed probability table
    (inverted-index-shaped hash join) and re-aggregates per doc. The
    average is rounded 4 dp AFTER the divide, which makes a cross-engine
    mismatch RARE, not impossible: sum(logp) is a double accumulated in
    engine-dependent order, and a ~1-ulp difference (~1e-14 abs at
    these magnitudes) flips the 4 dp result iff the true value sits
    within a ulp of a 1e-4 rounding boundary — odds ~1e-10 per doc,
    i.e. ~0.1 expected flips per 10^9 docs. (The float32-cast trick has
    the same failure mode at ~2e-8 odds per doc here — values O(10)
    make float32 spacing 5e-7, WIDER than 1e-4 is dense — so round-4dp
    is kept deliberately; neither discretization is exactly
    order-independent.)

    Returns (doc_id, n_tokens, avg_logprob).
    """
    toks = _ensure_parallelism(df).select(
        "doc_id", F.explode(F.expr(TOKENS_LC)).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    tot = tf.agg(F.sum("tf").alias("t"))
    lp = tf.crossJoin(F.broadcast(tot)).select(
        "term", F.log(F.col("tf") / F.col("t")).alias("logp")
    )
    return _doc_avg_logprob(toks, lp, "term", "n_tokens", "avg_logprob")


def ccnet_buckets(
    df: DataFrame,
    exact: bool = False,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. '19 §4.3): the
    corpus splits into head/middle/tail quality terciles by LM score
    (head = most fluent), thresholds broadcast onto the scored docs —
    one extra single-row agg over :func:`unigram_logprob`'s plan.

    Threshold mode is the scale switch:

    - ``exact=False`` (DEFAULT, the 100-TB path): ``approx_percentile``
      — a t-digest sketch, mergeable across partitions with bounded
      memory (~10000 centroids), so the single-row agg never
      buffers the corpus. Thresholds are then actual dataset values
      within 1/10000 relative rank of the target quantile, not
      interpolated midpoints — bucket assignments can differ from
      exact mode only for docs whose score lies between the two modes'
      thresholds (pinned by the agreement pytest).
    - ``exact=True`` (the oracle gate): Spark's exact ``percentile``
      == ANSI percentile_cont == DuckDB quantile_cont (the
      ``group_quantiles`` portability argument), rounded 4 dp on both
      engines. Exact ``percentile`` buffers every corpus value in ONE
      aggregation buffer — fine at gate scale, an aggregation-buffer
      blowup at 10^9 docs; never the default.

    Returns (doc_id, avg_logprob, bucket).
    """
    lp = unigram_logprob(df)
    if exact:
        q = F.expr("percentile(avg_logprob, array(0.3333, 0.6667))")
    else:
        q = F.expr(
            f"approx_percentile(avg_logprob, array(0.3333, 0.6667), "
            "10000)"
        )
    thr = lp.agg(q.alias("q"))
    return lp.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "avg_logprob",
        F.when(
            F.col("avg_logprob") >= F.round(F.element_at("q", 2), 4),
            F.lit("head"),
        )
        .when(
            F.col("avg_logprob") >= F.round(F.element_at("q", 1), 4),
            F.lit("middle"),
        )
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def bigram_logprob(df: DataFrame, lam: float = 0.7) -> DataFrame:
    """Per-document average INTERPOLATED bigram log-probability under
    the corpus's own bigram LM — one Markov order up from
    :func:`unigram_logprob`, and much closer to a real perplexity
    filter's discrimination: a shuffled bag of common words scores the
    same as clean prose under a unigram LM but collapses under a bigram
    LM (soak: BENCH/soak_search.py --bigram separation evidence).

    p(w | v) = lam * c(v,w)/c_left(v) + (1-lam) * c(w)/T
    (Jelinek-Mercer interpolation with unigram backoff; c_left(v) =
    occurrences of v as a bigram left element, so the conditional sums
    to 1 over w). Trained on and scored against the same corpus, so no
    unseen-bigram zero-probability case exists by construction.

    Returns (doc_id, n_bigrams, avg_logprob2); documents with zero
    qualifying bigrams (< 2 non-empty tokens) drop, like
    ``unigram_logprob`` drops token-less docs.

    Plan shape: the bigram stream is array-expr built (no positional
    self-join), aggregated once corpus-wide; conditional+backoff
    probabilities live in a bigram-vocabulary-sized relation that the
    per-doc stream joins (inverted-index shaped, AQE-broadcast when
    small); one final per-doc hash-agg. Rounding policy (and its
    honestly-quantified residual risk) as documented in
    ``unigram_logprob``.
    """
    arr, big, cab = _bigram_counts(df)
    cleft = cab.groupBy("term_a").agg(F.sum("c_ab").alias("c_left"))
    toks = arr.select(F.explode("t").alias("term")).filter(
        F.col("term") != ""
    )
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    ttot = uni.agg(F.sum("c").alias("tt"))
    prob = (
        cab.join(cleft, "term_a")
        .join(
            uni.select(
                F.col("term").alias("term_b"), F.col("c").alias("cb")
            ),
            "term_b",
        )
        .crossJoin(F.broadcast(ttot))
        .select(
            "term_a",
            "term_b",
            F.log(
                F.lit(lam) * (F.col("c_ab") / F.col("c_left"))
                + F.lit(1.0 - lam) * (F.col("cb") / F.col("tt"))
            ).alias("logp"),
        )
    )
    return _doc_avg_logprob(
        big, prob, ["term_a", "term_b"], "n_bigrams", "avg_logprob2"
    )


def kn_logprob(df: DataFrame, discount: float = 0.75) -> DataFrame:
    """Per-document average INTERPOLATED KNESER-NEY bigram
    log-probability — the smoothing family KenLM implements and CCNet's
    perplexity filter actually runs (Chen & Goodman '98 §2.7; Heafield
    '11). One smoothing class up from :func:`bigram_logprob`'s
    Jelinek-Mercer: instead of mixing in the raw unigram (which
    over-scores words that are frequent only inside one stock phrase),
    KN discounts every seen bigram by a fixed ``discount`` D and backs
    off to the CONTINUATION probability — how many distinct left
    contexts a word follows, not how often it occurs:

        p(w | v) = max(c(v,w) - D, 0) / c_left(v)
                 + (D * n_cont(v) / c_left(v)) * (n_left(w) / b_types)

    with c_left(v) = bigram occurrences of v on the left, n_cont(v) =
    DISTINCT continuations of v, n_left(w) = DISTINCT left contexts of
    w, b_types = distinct bigram types. The conditional sums to 1 over
    the vocabulary (pytest-pinned closed form: the discount mass
    D * n_cont / c_left exactly funds the continuation backoff).
    Trained on and scored against the same corpus, so every scored
    bigram is seen and p > 0 by construction.

    Returns (doc_id, n_bigrams, avg_kn_logprob); docs with zero
    qualifying bigrams drop, as in ``bigram_logprob``.

    Plan shape mirrors ``bigram_logprob``: one corpus-wide bigram
    hash-agg; n_cont/c_left derive from THAT table (vocabulary-sized,
    no second corpus pass), n_left likewise; b_types is a 1-row
    broadcast; the per-doc stream joins the probability relation
    (inverted-index shaped, AQE-broadcast when small) and one final
    per-doc hash-agg. D = 0.75 is exactly representable in binary so
    the literal is engine-portable as written (the ``1.0 - lam`` ulp
    trap of bigram_logprob does not arise).
    """
    _, big, cab = _bigram_counts(df)
    cleft = cab.groupBy("term_a").agg(
        F.sum("c_ab").alias("c_left"),
        F.count(F.lit(1)).alias("n_cont"),
    )
    cright = cab.groupBy("term_b").agg(F.count(F.lit(1)).alias("n_left"))
    btypes = cab.agg(F.count(F.lit(1)).alias("b_types"))
    d = float(discount)
    prob = (
        cab.join(cleft, "term_a")
        .join(cright, "term_b")
        .crossJoin(F.broadcast(btypes))
        .select(
            "term_a",
            "term_b",
            F.log(
                F.greatest(
                    F.col("c_ab").cast("double") - F.lit(d), F.lit(0.0)
                )
                / F.col("c_left")
                + (F.lit(d) * F.col("n_cont") / F.col("c_left"))
                * (F.col("n_left") / F.col("b_types"))
            ).alias("logp"),
        )
    )
    return _doc_avg_logprob(
        big, prob, ["term_a", "term_b"], "n_bigrams", "avg_kn_logprob"
    )


def pmi_bigrams(df: DataFrame, min_count: int = 5, k: int = 50) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information
    (Church & Hanks '90) — the vocabulary/tokenizer-building shape
    (which adjacent token pairs co-occur far above chance).

    PMI(a,b) = ln( (c_ab / B) / ((c_a / T) · (c_b / T)) ) with B = total
    bigrams, T = total tokens. ``min_count`` floors c_ab (PMI is
    notoriously noisy on rare pairs). The bigram stream is built with
    array expressions (``transform`` over an index ``sequence`` — no
    self-join on position), then one hash-agg; unigram counts join in
    vocabulary-keyed. Final top-k is TakeOrdered on the ROUNDED pmi with
    (term_a, term_b) tie-breaks, so the k-boundary is engine-portable.

    Returns (term_a, term_b, c_ab, pmi, rank).
    """
    arr = _ensure_parallelism(df).select(F.expr(TOKENS_LC).alias("t"))
    big = _bigram_stream(arr)
    cab = big.groupBy("term_a", "term_b").agg(
        F.count(F.lit(1)).alias("c_ab")
    )
    btot = cab.agg(F.sum("c_ab").alias("b"))
    toks = arr.select(F.explode("t").alias("term")).filter(
        F.col("term") != ""
    )
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    ttot = uni.agg(F.sum("c").alias("t"))
    pmi = F.log(
        (F.col("c_ab") / F.col("b"))
        / ((F.col("ca") / F.col("t")) * (F.col("cb") / F.col("t")))
    )
    return (
        cab.filter(F.col("c_ab") >= min_count)
        .join(
            uni.select(F.col("term").alias("term_a"), F.col("c").alias("ca")),
            "term_a",
        )
        .join(
            uni.select(F.col("term").alias("term_b"), F.col("c").alias("cb")),
            "term_b",
        )
        .crossJoin(F.broadcast(btot))
        .crossJoin(F.broadcast(ttot))
        .withColumn("pmi", F.round(pmi, 4))
        .select("term_a", "term_b", "c_ab", "pmi")
        .orderBy(F.col("pmi").desc(), F.col("term_a"), F.col("term_b"))
        .limit(k)
    )


_AZ = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"


def with_quality(df: DataFrame) -> DataFrame:
    """Quality score in [0,1]: length, alpha ratio, stopword ratio.

    r6: the alpha count is ``length(text) - length(translate(text,
    a-zA-Z, ''))`` — the same ASCII-letter count the old
    ``regexp_replace('[^a-zA-Z]', '')`` produced (bit-identical
    integer), without building a filtered copy of the text through the
    regex engine on every evaluation (this expression is inlined into
    many downstream predicates where it evaluates per reference)."""
    n_tokens = F.size(F.expr(TOKENS))
    n_chars = F.length(F.col("text"))
    alpha = n_chars - F.length(F.translate("text", _AZ, ""))
    stop_hits = F.expr(
        f"size(filter({TOKENS}, t -> lower(t) IN ({_STOP_SQL})))"
    )
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tokens / F.lit(50.0))
        + F.lit(0.3) * (alpha / n_chars)
        + F.lit(0.3)
        * F.least(F.lit(1.0), F.lit(5.0) * stop_hits / n_tokens)
    )
    return df.withColumn("quality", F.round(quality, 4))


def char_entropy(df: DataFrame) -> DataFrame:
    """Character-level Shannon entropy of the case-folded letter
    distribution + letter fraction — the standard gibberish /
    encoded-blob / key-dump quality signal (natural English prose sits
    ~2.6-2.9 nats over a-z; base64 blobs and mashed keyboards push
    toward ln(26)=3.258, single-char floods toward 0).

    Adds ``char_entropy`` (0.0 when the text has no letters) and
    ``letter_frac`` (letters / total chars, 0.0 on empty text), both
    float32 — the cross-engine contract is "same IEEE double
    expression, then cast to float32" (CLAUDE.md rounding rule).

    Scale shape: MAP-ONLY (the only exchange is the
    ``_ensure_parallelism`` guard on under-partitioned inputs). Letter
    counts come from 26 literal ``replace`` passes over the
    pre-filtered letters string (length delta per letter) — no
    explode, no per-char aggregation state, the whole row stays inside
    whole-stage codegen. 26 linear scans of a few-KB string is cheap;
    an explode+groupBy formulation would shuffle corpus-chars rows at
    100 TB. (Literal replace, not regexp_replace: the per-letter
    regex compile+scan was ~10x the whole op's cost.)
    """
    # ONE compact higher-order-function expression, not 26 unrolled
    # terms. The unrolled form was a trap twice over: (a) a single
    # fused expression tree blows codegen's 64 KB method limit (one
    # expression = one unsplittable Java method) and silently falls
    # back to the interpreter at ~6x cost; (b) even staged across
    # projections, any FILTER on the output gets predicate-pushdown-
    # inlined back into one giant tree, recreating (a) inside every
    # composition. The fix: bind the letters string ONCE as a lambda
    # variable via a single-element transform(array(...)), then fold
    # sequence(97,122) left-to-right — the tree stays ~1 KB, inlines
    # safely into pushed-down predicates, and the a..z left fold is
    # bit-identical to the oracle's left-associated 26-term sum
    # (acc starts at 0.0; every term is >= 0, so 0.0 + x == x).
    df = _ensure_parallelism(df)
    ent = F.expr(
        """
        transform(
            array(regexp_replace(lower(text), '[^a-z]', '')),
            l -> CASE WHEN length(l) > 0 THEN aggregate(
                transform(sequence(97, 122),
                          cp -> length(l) - length(replace(l, char(cp)))),
                CAST(0.0 AS DOUBLE),
                (acc, cnt) -> acc + (CASE WHEN cnt > 0
                    THEN -((CAST(cnt AS DOUBLE)
                            / CAST(length(l) AS DOUBLE))
                           * ln(CAST(cnt AS DOUBLE)
                                / CAST(length(l) AS DOUBLE)))
                    ELSE CAST(0.0 AS DOUBLE) END))
            ELSE CAST(0.0 AS DOUBLE) END
        )[0]
        """
    )
    letters_len = F.length(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
    )
    n_chars = F.length(F.col("text"))
    return df.withColumn(
        "char_entropy", ent.cast("float")
    ).withColumn(
        "letter_frac",
        F.when(
            n_chars > 0,
            letters_len.cast("double") / n_chars.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .cast("float"),
    )


def with_gopher_rules(
    df: DataFrame,
    min_words: int = 50,
) -> DataFrame:
    """Gopher document-quality rule set (Rae et al. 2021, App. A1 —
    the standard web-corpus gate; also the RefinedWeb/Dolma baseline):
    per-document signals plus the composite ``gopher_pass`` flag.

    Signals (all built-in array expressions, no explode, linear scan):
    - word_count in [min_words, 100000]
    - mean_word_len in [3, 10]
    - symbol_ratio (tokens containing '#' or '...') <= 0.1
    - bullet_ratio (lines starting with a bullet) <= 0.9
    - ellipsis_ratio (lines ending with '...') <= 0.3
    - alpha_ratio (tokens containing a letter) >= 0.8
    - stop_hits >= 2 (the Gopher "2 of a stop list" rule)

    Ratios are rounded to 4dp BEFORE the flag comparison on both the
    Spark and oracle sides, so the pass boolean is engine-portable.
    """
    toks = TOKENS
    wc = F.when(F.trim("text") == "", F.lit(0)).otherwise(
        F.size(F.expr(toks))
    )
    sum_len = F.expr(
        f"aggregate({toks}, 0L, (a, t) -> a + length(t))"
    )
    sym = F.expr(
        f"size(filter({toks}, t -> contains(t, '#') OR contains(t, '...')))"
    )
    # (r6 note: a translate-based letter test was tried and measured
    # SLOWER than rlike here — the regex early-exits on the first
    # letter while translate always scans the whole token)
    alpha = F.expr(f"size(filter({toks}, t -> t rlike '[a-zA-Z]'))")
    stop_hits = F.expr(
        f"size(filter({toks}, t -> lower(t) IN ({_STOP_SQL})))"
    )
    lines = "filter(transform(split(text, '\\n'), l -> trim(l)), l -> l <> '')"
    n_lines = F.expr(f"size({lines})")
    bullets = F.expr(
        f"size(filter({lines}, l -> l LIKE '- %' OR l LIKE '* %' "
        f"OR l LIKE '• %'))"
    )
    ellipsis = F.expr(f"size(filter({lines}, l -> l LIKE '%...'))")
    out = (
        df.withColumn("word_count", wc.cast("long"))
        .withColumn(
            "mean_word_len",
            F.when(
                F.col("word_count") > 0,
                F.round(sum_len / F.col("word_count"), 4),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "symbol_ratio",
            F.when(
                F.col("word_count") > 0,
                F.round(sym / F.col("word_count"), 4),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "alpha_ratio",
            F.when(
                F.col("word_count") > 0,
                F.round(alpha / F.col("word_count"), 4),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "bullet_ratio",
            F.when(n_lines > 0, F.round(bullets / n_lines, 4)).otherwise(
                F.lit(0.0)
            ),
        )
        .withColumn(
            "ellipsis_ratio",
            F.when(n_lines > 0, F.round(ellipsis / n_lines, 4)).otherwise(
                F.lit(0.0)
            ),
        )
        .withColumn("stop_hits", stop_hits)
    )
    return out.withColumn(
        "gopher_pass",
        (F.col("word_count") >= min_words)
        & (F.col("word_count") <= 100_000)
        & (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("bullet_ratio") <= 0.9)
        & (F.col("ellipsis_ratio") <= 0.3)
        & (F.col("alpha_ratio") >= 0.8)
        & (F.col("stop_hits") >= 2),
    )


def c4_rules(
    df: DataFrame,
    blocklist: list[str] | None = None,
) -> DataFrame:
    """C4 cleaning rules (Raffel et al. '20 §2.2 — the T5 web-corpus
    recipe, still the baseline every later pipeline cites): LINE rules
    keep only lines that end in terminal punctuation, have at least
    3 whitespace words, and do not mention javascript;
    PAGE rules then flag any page whose cleaned text has fewer than
    5 sentences (terminal-punctuation count), or whose
    RAW text contains the phrase "lorem ipsum", a curly brace, or any
    ``blocklist`` word (C4 checks the original page for these).

    Output: input columns + ``text_clean`` (kept lines re-joined) +
    ``c4_kept`` — rows are never dropped (the error-channel
    convention); callers filter on the flag.

    Scale shape: a PURE MAP — every rule is an in-row array/regex
    expression (no explode, no shuffle, whole-stage codegen). The
    word splits use ``\\s+``/`` +`` which are ASCII in both Java and
    DuckDB regex dialects (the portability footgun is Python's
    unicode ``\\s``, not these engines)."""
    # C4 strips each line before testing it (tensorflow c4.py
    # recipe); kept lines are re-joined in stripped form.
    lines = F.transform(
        F.split(F.col("text"), "\n"), lambda x: F.trim(x)
    )

    def _line_ok(x):
        return (
            x.rlike('[.!?"]$')
            & (F.size(F.split(x, " +")) >= 3)
            & ~F.contains(F.lower(x), F.lit("javascript"))
        )

    lower_text = F.lower(F.col("text"))
    no_block = (
        ~F.arrays_overlap(
            F.split(lower_text, "\\s+"),
            F.array(*[F.lit(w.lower()) for w in blocklist]),
        )
        if blocklist
        else F.lit(True)
    )
    out = df.withColumn(
        "text_clean", F.array_join(F.filter(lines, _line_ok), "\n")
    )
    sentences = F.size(
        F.regexp_extract_all("text_clean", F.lit("[.!?]"), 0)
    )
    return out.withColumn(
        "c4_kept",
        (sentences >= 5)
        & ~F.contains(lower_text, F.lit("lorem ipsum"))
        & ~F.contains(F.col("text"), F.lit("{"))
        & no_block,
    )


def sft_examples(
    turns: DataFrame,
    context_turns: int = 3,
) -> DataFrame:
    """Conversation -> supervised fine-tuning examples: one (context,
    target) pair per ``assistant`` turn, the context being the
    previous ``context_turns`` turns rendered as ``role: text`` lines —
    the standard multi-turn-SFT example construction (each assistant
    turn trains once, conditioned on a bounded rolling history; cf.
    the doc-side window analogue :func:`doc_chunks`).

    Scale shape: ONE window over (conv, turn order) computes the
    ``context_turns`` lag columns — the conversation is NEVER
    materialized as a single row (no sort_array/collect_list), so a
    million-turn whale conversation costs exactly what its turn count
    costs and no row ever exceeds ``context_turns + 1`` turns of text.
    ``concat_ws`` skips the NULL lags at conversation starts in both
    engines, so early-turn examples simply carry shorter contexts
    (n_ctx counts the real ones; a conversation-opening target yields
    context = ''). The role filter applies AFTER the window — context
    sees every turn, targets are only ``assistant`` turns.

    Returns (conv_id, turn_idx, n_ctx, context, target). Compose
    downstream with
    :func:`pack_sequences` to pack examples into training sequences.
    """
    if context_turns < 1:
        raise ValueError(f"context_turns={context_turns} must be >= 1")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    fmt = F.concat_ws(": ", "role", "text")
    # one projection holding all lag columns -> a single Window node
    # the self-aliases stay: dropping them changes the window's input
    # projection, which the frozen plan snapshot pins
    lagged = turns.select(
        F.col("conv_id").alias("conv_id"),
        F.col("turn_idx").alias("turn_idx"),
        "role",
        "text",
        *[
            F.lag(fmt, j).over(w).alias(f"ctx_{j}")
            for j in range(context_turns, 0, -1)
        ],
    )
    n_ctx = None
    for j in range(context_turns, 0, -1):
        term = F.when(F.col(f"ctx_{j}").isNull(), 0).otherwise(1)
        n_ctx = term if n_ctx is None else n_ctx + term
    return (
        lagged.filter(F.col("role") == "assistant")
        .select(
            "conv_id",
            "turn_idx",
            n_ctx.alias("n_ctx"),
            F.concat_ws(
                "\n",
                *[
                    F.col(f"ctx_{j}")
                    for j in range(context_turns, 0, -1)
                ],
            ).alias("context"),
            F.col("text").alias("target"),
        )
    )


def pack_conversations(
    df: DataFrame,
    max_tokens: int = 2048,
    whale_turns: int = 4096,
) -> DataFrame:
    """Conversation-aware sequence packing — the transcript twin of
    :func:`pack_sequences`: turns stay in ``turn_idx`` order, chunks
    break ONLY at turn boundaries (no mid-turn truncation), every
    conversation starts a fresh chunk (no cross-conversation
    contamination inside a training sequence — the multi-turn-SFT
    packing rule), and the fill rule is EXACT GREEDY: a turn that
    would push the running chunk past ``max_tokens`` starts the next
    chunk; a single oversized turn still gets a chunk of its own.

    Greedy reset-packing is sequentially stateful, which a window
    cumsum cannot express (``pack_sequences``' offset arithmetic can
    overshoot the cap mid-item; fine for documents, wrong for "whole
    turns only"). Each conversation therefore folds linearly after ONE
    conv-keyed shuffle, with the fold implementation chosen per
    conversation by turn count:

    - ``<= whale_turns`` (everything but whales): IN-ROW via
      ``aggregate`` over the sort_array'd (turn_idx, n_tokens) structs.
      The accumulator appends one int per turn and ``concat`` copies
      it each step, so the in-row fold is O(turns^2) in copied ints —
      ~16M copies at the 4096 default, microseconds of JVM memcpy;
      never more, because whales don't take this path.
    - ``> whale_turns`` (whales): an Arrow-batched ``mapInPandas``
      LINEAR fold over the same aggregated rows — a 10^6-turn whale is
      one 10^6-step Python loop (ms), not 5*10^11 copied ints. Both
      branches filter the SAME aggregation, so the conv-keyed exchange
      is planned once and reused (ReusedExchange), and the whale rows
      carry (turn_idx, n_tokens) int pairs only — 8 bytes/turn — never
      turn text.

    The two folds are the same greedy recurrence (equality is pinned by
    a pytest that forces every conversation down the whale path); the
    DuckDB oracle mirrors it with a recursive CTE, so the semantics are
    value-pinned, not just eyeballed.

    Returns (conv_id, turn_idx, n_tokens, chunk_idx).
    """
    import pandas as pd
    from pyspark.sql import types as T

    turns = with_token_count(_ensure_parallelism(df)).groupBy("conv_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("turn_idx").cast("int").alias("i"),
                    F.col("n_tokens").cast("int").alias("n"),
                )
            )
        ).alias("ts")
    )
    fold = (
        f"aggregate(ts, "
        f"struct(CAST(0 AS INT) AS chunk, CAST(0 AS BIGINT) AS fill, "
        f"CAST(array() AS ARRAY<INT>) AS acc), "
        f"(s, t) -> IF(s.fill > 0 AND s.fill + t.n > {max_tokens}, "
        f"struct(s.chunk + 1 AS chunk, CAST(t.n AS BIGINT) AS fill, "
        f"concat(s.acc, array(s.chunk + 1)) AS acc), "
        f"struct(s.chunk AS chunk, s.fill + t.n AS fill, "
        f"concat(s.acc, array(s.chunk)) AS acc)), "
        f"s -> s.acc)"
    )
    assign = (
        f"zip_with(ts, {fold}, "
        f"(t, c) -> struct(t.i AS i, t.n AS n, c AS c))"
    )
    small = (
        turns.filter(F.size("ts") <= whale_turns)
        .select("conv_id", F.explode(F.expr(assign)).alias("a"))
        .select(
            "conv_id",
            F.col("a.i").cast("long").alias("turn_idx"),
            F.col("a.n").cast("long").alias("n_tokens"),
            F.col("a.c").cast("long").alias("chunk_idx"),
        )
    )

    out_schema = T.StructType(
        [
            T.StructField("conv_id", turns.schema["conv_id"].dataType),
            T.StructField("turn_idx", T.LongType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("chunk_idx", T.LongType()),
        ]
    )

    def _linear_fold(batches):
        for pdf in batches:
            convs, idxs, ns, chunks = [], [], [], []
            for conv, ts in zip(pdf["conv_id"], pdf["ts"]):
                chunk, fill = 0, 0
                for t in ts:
                    n = int(t["n"])
                    if fill > 0 and fill + n > max_tokens:
                        chunk += 1
                        fill = n
                    else:
                        fill += n
                    convs.append(conv)
                    idxs.append(int(t["i"]))
                    ns.append(n)
                    chunks.append(chunk)
            yield pd.DataFrame(
                {
                    "conv_id": convs,
                    "turn_idx": idxs,
                    "n_tokens": ns,
                    "chunk_idx": chunks,
                }
            )

    whales = turns.filter(F.size("ts") > whale_turns).mapInPandas(
        _linear_fold, out_schema
    )
    return small.unionByName(whales)


def pack_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    shards: int = 32,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Greedy contiguous sequence packing (the sample-packing step of an
    LLM data pipeline): documents are laid end-to-end in deterministic
    (doc_id) order and cut into ``seq_len``-token training sequences;
    each document reports the sequence it STARTS in and its token
    offset within it.

    Scale shape: a single global running sum would be one sort + one
    partition — forbidden. Packing instead happens independently inside
    ``shards`` hash shards (pmod(doc_id, shards)): the window cumsum
    partitions by shard, so the sort is per-shard and parallel, and a
    sequence never crosses a shard boundary (standard practice — shards
    map to training-data files). Returns
    (doc_id, shard, n_tokens, seq_idx, seq_offset, *keep) — ``keep``
    names extra input columns carried through the packing unchanged
    (``sft_spans`` threads its context token count this way).
    """
    from pyspark.sql import Window

    toks = with_token_count(df).select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(shards)).alias("shard"),
        "n_tokens",
        *keep,
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return toks.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(cum_before / F.lit(seq_len)).cast("long").alias("seq_idx"),
        F.pmod(cum_before, F.lit(seq_len)).cast("long").alias("seq_offset"),
        *keep,
    )


def sft_spans(
    examples: DataFrame,
    seq_len: int = 2048,
    shards: int = 32,
) -> DataFrame:
    """Loss-mask spans for packed SFT examples — the missing third of
    the SFT data path (:func:`sft_examples` builds the pairs,
    :func:`pack_sequences` lays them out, THIS says which packed
    tokens the trainer computes loss on): render ``context\\n\\ntarget``,
    pack, and emit where the TARGET tokens land in the shard's flat
    token stream, [tgt_start, tgt_end) with tgt_start =
    seq_idx*seq_len + seq_offset + ctx_tokens. Everything outside
    these spans (the contexts) is masked — the standard multi-turn SFT
    loss rule.

    Token additivity is guaranteed by construction: the separator is
    whitespace, so tokens(context) + tokens(target) == tokens(rendered)
    (pytest-pinned), and a span may legitimately cross a sequence
    boundary (packing cuts mid-example; the flat positions stay
    correct). Input: (doc_id, context, target) as produced by
    ``sft_examples`` plus an id projection. Plan = the pack window
    with ctx_tokens carried through (``keep=``) — no join, no second
    pass. Returns (doc_id, shard, n_tokens, ctx_tokens, tgt_tokens,
    seq_idx, seq_offset, tgt_start, tgt_end).
    """
    rendered = examples.select(
        "doc_id",
        F.concat_ws(
            "\n\n", F.expr("nullif(context, '')"), F.col("target")
        ).alias("text"),
        F.when(F.trim("context") == "", F.lit(0))
        .otherwise(F.size(F.expr("split(trim(context), '\\\\s+')")))
        .alias("ctx_tokens"),
    )
    packed = pack_sequences(
        rendered, seq_len=seq_len, shards=shards, keep=("ctx_tokens",)
    )
    flat = F.col("seq_idx") * F.lit(seq_len) + F.col("seq_offset")
    return packed.select(
        "doc_id",
        "shard",
        "n_tokens",
        "ctx_tokens",
        (F.col("n_tokens") - F.col("ctx_tokens")).alias("tgt_tokens"),
        "seq_idx",
        "seq_offset",
        (flat + F.col("ctx_tokens")).cast("long").alias("tgt_start"),
        (flat + F.col("n_tokens")).cast("long").alias("tgt_end"),
    )


def _ngrams_sql(n: int) -> str:
    """Word n-gram array expression over the whitespace tokens.
    Guarded: ``sequence(1, 0)`` counts DOWN in Spark, so short docs
    must short-circuit to an empty array."""
    return (
        f"CASE WHEN size({TOKENS}) < {n} THEN array() ELSE "
        f"transform(sequence(1, size({TOKENS}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({TOKENS}, i, {n}))) END"
    )


def with_repetition(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, "Scaling
    Language Models: Methods, Analysis & Insights from Training
    Gopher", App. A1 repetition filters): the fraction of duplicated
    word 2-grams / 3-grams and duplicated non-empty lines per document.
    Repetitive boilerplate scores high and gets filtered by curation
    rules. All built-in array expressions — ``1 - distinct/total``
    without exploding (no shuffle, linear scan).
    """

    def dup_frac(items: str):
        return F.expr(
            f"CASE WHEN size({items}) <= 0 THEN 0.0 ELSE "
            f"round(1.0 - CAST(size(array_distinct({items})) AS DOUBLE)"
            f" / size({items}), 4) END"
        )

    lines = r"filter(split(text, '\\n'), x -> trim(x) <> '')"
    return (
        df.withColumn("rep_2gram", dup_frac(_ngrams_sql(2)))
        .withColumn("rep_3gram", dup_frac(_ngrams_sql(3)))
        .withColumn("rep_line", dup_frac(lines))
    )


# PII scrubbing patterns — deliberately backreference/lookahead-free so
# Java regex (Spark) and RE2 (DuckDB oracle) agree exactly.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    # IBAN before phone is ORDER-CRITICAL: the digit run inside an IBAN
    # matches the phone shape, so a phone-first chain would rewrite
    # 'DE8937...' into 'DE<PHONE>' before the IBAN pattern ever fires
    "iban": r"\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\b",
    "phone": r"\+?[0-9][0-9\- ]{7,}[0-9]",
}


def redact_pii(df: DataFrame) -> DataFrame:
    """PII redaction (training-data scrubbing): replace emails, URLs,
    IPv4 addresses, US-SSN shapes, IBAN shapes and phone-number shapes
    with typed placeholder tokens and count the matches per document.
    Pure regexp expressions — linear, backreference/lookahead-free
    (Java and RE2 agree exactly), pushed down, no UDFs.

    Replacement order is fixed (email, url, ipv4, ssn, iban, phone) so
    overlapping shapes resolve identically in every engine: an email
    inside a URL splits the same way, and the pure-digit run inside an
    IBAN is claimed by <IBAN> before the phone pattern can eat it.
    Counts are taken on the RAW text independently per kind, so a
    span matching two shapes (an SSN also matches the phone shape)
    counts under both — the redacted TEXT is unambiguous, the counts
    are per-pattern detectors.
    """
    out = df
    clean = F.col("text")
    for kind, pat in PII_PATTERNS.items():
        # function API, not F.expr: embedding the pattern in a SQL
        # string literal would re-parse (and eat) the backslashes
        out = out.withColumn(
            f"n_{kind}s",
            F.size(
                F.regexp_extract_all(
                    F.col("text"), F.lit(pat), F.lit(0)
                )
            ),
        )
        clean = F.regexp_replace(clean, pat, f"<{kind.upper()}>")
    return out.withColumn("text_redacted", clean)


def _level_cum(
    lv: DataFrame, part_cols: list[str], level_col: str
) -> DataFrame:
    """Exclusive prefix sum (cum_below) + partition total (n_part)
    over a LEVEL table in ascending level order — the shared fragment
    of the count-table rank machinery (score_normalize and
    clustering.embedding_outliers; quality_select keeps its own
    descending budget variant). Input carries a ``lv_n`` count column;
    levels must be NULL-free (Spark windows sort NULLS FIRST where
    DuckDB defaults NULLS LAST — callers filter)."""
    w_cum = (
        Window.partitionBy(*part_cols)
        .orderBy(F.col(level_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(*part_cols)
    return lv.select(
        *part_cols,
        level_col,
        F.coalesce(F.sum("lv_n").over(w_cum), F.lit(0)).alias(
            "cum_below"
        ),
        F.sum("lv_n").over(w_all).alias("n_part"),
    )


def score_normalize(
    df: DataFrame,
    score_col: str = "score",
    domain_col: str = "source",
) -> DataFrame:
    """Per-domain percent-rank normalization of a quality score — the
    calibration step that makes one threshold comparable ACROSS domains
    (a raw-score cut keeps different fractions of prose vs code vs
    forums; CCNet-style pipelines bucket per domain for exactly this
    reason). pct = cum_below / (n_domain - 1) — the standard
    percent_rank with ties sharing their tie-group's minimum rank — as
    float32 (the cross-engine contract; both engines divide the same
    exact integers, so the double is bit-identical before the cast).
    Single-row domains define pct = 0 (Spark percent_rank convention).

    Scale shape: the PURE level-table form of the quality_select
    machinery, and strictly cheaper — percent-rank is constant within
    a tie group, so no fine row_number pass exists at all. One
    (domain, score) count agg with map-side partials, tiny per-domain
    cumulative windows over the LEVEL table, broadcast back to the
    corpus. The corpus never sorts and never windows; parallelism is
    never domain-capped. Quantize continuous scores (round-4) before
    calling so the level table stays bounded (integer scores like
    char/token counts are already levels).

    NULL scores are EXCLUDED up front (documented policy): percent
    rank is undefined for them, and a NULL level would otherwise sort
    NULLS-FIRST in Spark's ascending window but NULLS-LAST under
    DuckDB's default, silently shifting cum_below for every real
    level on one engine only.
    """
    df = df.filter(F.col(score_col).isNotNull())
    lv = df.groupBy(domain_col, score_col).agg(
        F.count(F.lit(1)).alias("lv_n")
    )
    lvn = _level_cum(lv, [domain_col], score_col).select(
        domain_col,
        score_col,
        F.when(
            F.col("n_part") > 1,
            F.col("cum_below").cast("double")
            / (F.col("n_part") - 1).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .cast("float")
        .alias("score_pct"),
    )
    return df.select("doc_id", domain_col, score_col).join(
        F.broadcast(lvn), [domain_col, score_col]
    ).select("doc_id", domain_col, score_col, "score_pct")


def with_length_bucket(df: DataFrame) -> DataFrame:
    """Per-doc power-of-two token-length bucket — the batching prep
    every training loader wants (length-bucketed batching pads to the
    bucket cap instead of the global max).

    bucket b covers [2^(b-1), 2^b - 1] tokens; bucket 0 is the empty
    doc. Computed as the BIT LENGTH of n_tokens via the binary-string
    representation (``length(bin(n))``) — identical in Spark and
    DuckDB, and exact where ``floor(log2(n))`` risks a 2.9999…
    off-by-one at power-of-two boundaries (log2 is log(x)/log(2), not
    exactly rounded at integer arguments).
    """
    d = with_token_count(df)
    return d.withColumn(
        "bucket",
        F.when(F.col("n_tokens") <= 0, F.lit(0)).otherwise(
            F.length(F.bin(F.col("n_tokens").cast("long")))
        ).cast("int"),
    )


def length_histogram(df: DataFrame) -> DataFrame:
    """Token-length histogram over power-of-two buckets: per bucket the
    doc count, token total and observed min/max, plus the bucket's
    [bucket_lo, bucket_hi] token range. ONE map pass + one tiny
    hash-agg with map-side partials; integer-only output (zero float
    risk). The mix-sheet for length-bucketed batch planning: padding
    waste under bucketed batching is bounded by bucket_hi/bucket_lo=2x
    vs corpus-max padding without it.
    """
    # NB: F.shiftleft only accepts a LITERAL shift amount — the
    # column-shift form must go through F.expr (established repo fact).
    return (
        with_length_bucket(df)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .select(
            "bucket",
            F.when(F.col("bucket") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)")
            )
            .alias("bucket_lo"),
            F.when(F.col("bucket") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr("shiftleft(CAST(1 AS BIGINT), bucket) - 1")
            )
            .alias("bucket_hi"),
            "n_docs",
            "total_tokens",
            "min_tokens",
            "max_tokens",
        )
    )


def _ratio(num: str, den: str) -> F.Column:
    """float32 ``num / den``; NULL when ``den`` is 0."""
    return (
        F.col(num).cast("double")
        / F.nullif(F.col(den), F.lit(0)).cast("double")
    ).cast("float")


def tokenizer_fit(df: DataFrame) -> DataFrame:
    """Per-domain tokenizer-fit / fertility sheet: how many BPE-ish
    pre-tokens a whitespace word explodes into (fertility), and the
    chars-per-token compression the corpus achieves — the standard
    signal for "this tokenizer was not trained on this domain"
    (fertility >> 1.3 on English-like text flags domain shift; cf. the
    OOV-rate operator for the closed-vocab variant).

    ONE hash-agg pass; every ratio is a float32 cast of a division of
    two exact BIGINT sums — the doubles are bit-identical cross-engine
    before the cast, so the gate hash cannot tie-diverge. Domains with
    zero tokens yield NULL ratios (0/0 guarded via nullif).
    """
    d = with_token_count_bpe(with_token_count(df)).select(
        "source",
        "n_tokens",
        F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe"),
        F.coalesce(F.length("text"), F.lit(0)).alias("n_ch"),
    )
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("ws_tokens"),
        F.sum("n_bpe").cast("long").alias("bpe_tokens"),
        F.sum("n_ch").cast("long").alias("total_chars"),
    )

    return agg.select(
        "source",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        "total_chars",
        _ratio("bpe_tokens", "ws_tokens").alias("fertility"),
        _ratio("total_chars", "ws_tokens").alias("chars_per_word"),
        _ratio("total_chars", "bpe_tokens").alias("chars_per_token"),
    )


def distinct_ngrams(df: DataFrame) -> DataFrame:
    """Per-domain lexical-diversity sheet: type-token ratio at the
    unigram and bigram level (the distinct-n diversity metric, the
    corpus-level stand-in for Self-BLEU: templated/duplicated text
    scores low, diverse prose high). Lowercased whitespace tokens,
    empty tokens dropped — the corpus-vocabulary convention.

    Shape: one tokenize pass feeds both the unigram and bigram
    streams; distinct counts are exact (groupBy domain+term then
    count — two-stage hash aggs with map-side partials, never a
    corpus-wide sort). Ratios are float32 casts of exact-BIGINT
    divisions (cross-engine bit-equal before the cast); a domain with
    no bigrams (all docs < 2 tokens) yields NULL bigram columns via
    the outer join + nullif guard.
    """
    arr = df.select(
        F.col("source").alias("_dom"),
        F.expr(TOKENS_LC).alias("t"),
    ).filter(F.size("t") >= 1)
    # (r6 note: a combined uni+bigram single-explode variant keyed on
    # contains(term, ' ') was tried and measured SLOWER — the merged
    # count_distinct shuffles one bigger stream and loses nothing from
    # the second scan, which is cheap relative to the distinct aggs)
    uni = (
        arr.select("_dom", F.explode("t").alias("term"))
        .filter(F.col("term") != "")
    )
    u = uni.groupBy("_dom").agg(
        F.count(F.lit(1)).alias("total_unigrams"),
        F.count_distinct("term").alias("distinct_unigrams"),
    )
    bg = _bigram_stream(arr, "_dom").select(
        "_dom", F.concat_ws(" ", "term_a", "term_b").alias("bigram")
    )
    b = bg.groupBy("_dom").agg(
        F.count(F.lit(1)).alias("total_bigrams"),
        F.count_distinct("bigram").alias("distinct_bigrams"),
    )

    return (
        u.join(b, "_dom", "left")
        .select(
            F.col("_dom").alias("source"),
            "total_unigrams",
            "distinct_unigrams",
            "total_bigrams",
            "distinct_bigrams",
            _ratio("distinct_unigrams", "total_unigrams").alias("ttr"),
            _ratio("distinct_bigrams", "total_bigrams").alias(
                "bigram_ttr"
            ),
        )
    )


def temperature_sample(
    df: DataFrame,
    budget: int,
    domain_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based multilingual/domain rebalancing (the XLM-R /
    mT5 recipe, Conneau '19): sample group g at a rate proportional to
    (n_g)^alpha with alpha = 0.5, so low-resource groups keep a larger
    share of the ``budget`` than their corpus share — the standard fix
    for head-language domination that plain proportional sampling
    (:func:`domain_mix`) cannot express.

    Deterministic integer variant: the group weight is the INTEGER
    square root isqrt(n_g) — floor(sqrt) computed from the libm sqrt
    then fixed up with two integer comparisons, so the value is exact
    regardless of rounding mode and identical across engines — and the
    per-group target is ``min(n_g, budget * w_g div W)`` in pure
    BIGINT arithmetic (W = sum of weights). Selection is rate-based on
    the 16-bit md5 selector SALTED ``#ts`` (the domain_upsample
    salting rule: a new selector must never coincide with the shared
    unsalted hash_split/stratified_sample cut), threshold
    ``target * 65536 div n_g`` — a fully-met target gives threshold
    65536, above every selector value, so under-budget groups keep all
    rows exactly.

    Returns kept rows (key, group, n_docs, target).

    Scale shape: one group-count-sized hash-agg (map-side partials),
    a group-table-only weight computation, broadcast back, one pure-
    map filter — the corpus itself never shuffles. The realized count
    per group is binomial around the target (rate-based, like
    domain_mix); use token_budget_mix when the budget must be exact.
    """
    counts = df.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    s0 = F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("long")
    isqrt = (
        s0
        - F.when(s0 * s0 > F.col("n_docs"), 1).otherwise(0)
        + F.when(
            (s0 + 1) * (s0 + 1) <= F.col("n_docs"), 1
        ).otherwise(0)
    )
    weights = counts.withColumn("wgt", isqrt)
    total_w = weights.agg(F.sum("wgt").alias("w_total"))
    targets = (
        weights.crossJoin(F.broadcast(total_w))
        .withColumn(
            "target",
            F.least(
                F.col("n_docs"),
                F.expr(f"({budget} * wgt) div w_total"),
            ),
        )
        .withColumn(
            "threshold", F.expr("(target * 65536) div n_docs")
        )
        .select(domain_col, "n_docs", "target", "threshold")
    )
    sel = _md5_int(
        F.concat(F.col(key_col).cast("string"), F.lit("#ts")), 4, "int"
    )
    return (
        _ensure_parallelism(df)
        .join(F.broadcast(targets), domain_col)
        .filter(sel < F.col("threshold"))
        .select(key_col, domain_col, "n_docs", "target")
    )


def doremi_weights(
    df: DataFrame, domain_col: str = "source"
) -> DataFrame:
    """DoReMi-style domain reweighting sheet (Xie '23): per-domain
    excess score relative to the corpus mean, exponentiated into a
    sampling weight ``exp(rel / 1.0)`` (temperature 1) — domains that
    over-perform the reference get up-weighted. The published method
    uses proxy-model excess LOSS; the deterministic stand-in score
    here is the per-doc char count (an integer, the score_normalize
    zero-float-risk construction) — swap in any integer quality score
    column upstream.

    Returns (domain, n_docs, avg_chars, rel, weight) with the three
    derived columns float32.

    Cross-engine float contract: sums are exact BIGINTs, each average
    is ONE correctly-rounded double division, ``rel = avg_d/avg_all -
    1`` is two more correctly-rounded ops — bit-identical everywhere;
    only exp() carries a libm 1-ulp risk, absorbed by the float32 cast
    (the pagerank analysis: a 1-ulp double flip lands on a float32
    rounding boundary with ~1e-8 odds per value).

    Scale shape: one corpus hash-agg to a domain-count-sized table,
    then arithmetic on that tiny table (the overall mean comes from
    the SUMMED domain sums — never an average of averages).
    """
    dom = df.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.coalesce(F.length("text"), F.lit(0)))
        .cast("long")
        .alias("sum_chars"),
    )
    tot = dom.agg(
        F.sum("n_docs").alias("t_docs"),
        F.sum("sum_chars").alias("t_chars"),
    )
    avg_d = F.col("sum_chars").cast("double") / F.col("n_docs").cast(
        "double"
    )
    avg_all = F.col("t_chars").cast("double") / F.col("t_docs").cast(
        "double"
    )
    rel = avg_d / avg_all - F.lit(1.0)
    return dom.crossJoin(F.broadcast(tot)).select(
        domain_col,
        "n_docs",
        avg_d.cast("float").alias("avg_chars"),
        rel.cast("float").alias("rel"),
        F.exp(rel / F.lit(1.0)).cast("float").alias("weight"),
    )


def code_quality(df: DataFrame) -> DataFrame:
    """StarCoder/BigCode-style code-document quality rules: alphabetic
    fraction >= 0.25, longest line <= 1000, mean line length <= 100 —
    the structural filters that drop minified blobs, base64 dumps and
    data files from a code corpus (Kocetkov '22 The Stack; Li '23
    StarCoder).

    Every PASS decision is an exact integer predicate (alpha_cnt * 4
    >= n_chars; sum_line <= 100 * n_lines) — the reported float32
    fractions are display-only, so no threshold can tie-break
    differently across engines. Line lengths never materialize a
    second text copy: ``sum_line = n_chars - (n_lines - 1)`` (every
    char is either in a line or is one of the n_lines-1 separators).

    Returns (doc_id, n_lines, max_line, alpha_frac, avg_line,
    alpha_ok, maxline_ok, avgline_ok, passed) — flags as 0/1 ints.
    Pure map over the corpus: zero shuffle.
    """
    # NULL text normalizes to '' up front (the _license_cols policy):
    # split(NULL) would otherwise propagate NULL into n_lines and the
    # flags, breaking the 0/1-int contract.
    d = _ensure_parallelism(df).withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    lines = F.split(F.col("text"), "\n", -1)
    n_chars = F.length("text")
    alpha_cnt = F.length(
        F.regexp_replace("text", "[^A-Za-z]", "")
    )
    out = d.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.coalesce(
            F.array_max(F.transform(lines, F.length)), F.lit(0)
        ).alias("max_line"),
        n_chars.alias("_nc"),
        alpha_cnt.alias("_ac"),
    ).withColumn("_sl", F.col("_nc") - (F.col("n_lines") - 1))
    flags = out.select(
        "doc_id",
        "n_lines",
        "max_line",
        (
            F.col("_ac").cast("double")
            / F.nullif(F.col("_nc"), F.lit(0)).cast("double")
        )
        .cast("float")
        .alias("alpha_frac"),
        (
            F.col("_sl").cast("double")
            / F.col("n_lines").cast("double")
        )
        .cast("float")
        .alias("avg_line"),
        (F.col("_ac") * 4 >= F.col("_nc"))
        .cast("int")
        .alias("alpha_ok"),
        (F.col("max_line") <= 1000).cast("int").alias(
            "maxline_ok"
        ),
        (F.col("_sl") <= 100 * F.col("n_lines"))
        .cast("int")
        .alias("avgline_ok"),
    )
    return flags.withColumn(
        "passed",
        (
            F.col("alpha_ok")
            * F.col("maxline_ok")
            * F.col("avgline_ok")
        ).alias("passed"),
    )


# License classification marker table, FIRST MATCH WINS (order is
# load-bearing: a dual-licensed header tags as its first marker — the
# url_category convention). The oracle generator imports this table, so
# operator and SQL can never drift (the unicode_clean discipline).
LICENSE_MARKERS: list[tuple[str, str, int]] = [
    ("apache license", "apache-2.0", 1),
    ("mit license", "mit", 1),
    ("bsd license", "bsd-3-clause", 1),
    ("mozilla public license", "mpl-2.0", 1),
    ("gnu general public license", "gpl-3.0", 0),
    ("gnu lesser general public license", "lgpl-3.0", 0),
    ("creative commons", "cc-by", 1),
    ("all rights reserved", "proprietary", 0),
]


def _license_cols():
    """(license, permissive) Column pair from the first-match-wins
    marker scan — shared by :func:`license_tag` and the one-plan
    :func:`corpus_card` composition (no corpus self-join)."""
    low = F.lower(F.coalesce(F.col("text"), F.lit("")))
    return (
        _case(((low.contains(m), n) for m, n, _ in LICENSE_MARKERS), "unknown"),
        _case(((low.contains(m), p) for m, _, p in LICENSE_MARKERS), 0)
        .cast("int"),
    )


def license_tag(df: DataFrame) -> DataFrame:
    """License classification for code/document corpora: first-match-
    wins substring scan of the lowercased text against
    :data:`LICENSE_MARKERS` (the permissive-license gate every code-LM
    pipeline runs before training — The Stack keeps permissive only).
    Unmatched documents tag ``unknown`` with permissive = 0 (fail
    closed: an unidentifiable license is not a grant).

    Returns (doc_id, license, permissive). Pure map, zero shuffle;
    substring `contains` (no regex) keeps the scan in whole-stage
    codegen at memchr speed.
    """
    tag, perm = _license_cols()
    return _ensure_parallelism(df).select(
        "doc_id",
        tag.alias("license"),
        perm.alias("permissive"),
    )


def span_corruption(
    df: DataFrame, density_pct: int = 15, span: int = 3
) -> DataFrame:
    """T5 span-corruption sheet (Raffel '20): deterministic masking of
    ~``density_pct``% of tokens in mean-``span``-token spans, reporting
    the denoising geometry per document — encoder length after
    sentinel substitution and decoder target length — the numbers a
    seq2seq batch planner needs BEFORE materializing any corrupted
    text.

    Deterministic variant: token i belongs to mask group g = i div
    span; group g masks iff md5(doc_id#sc<g>)'s 16-bit selector % 100
    < density_pct. Adjacent masked groups merge into ONE span (maximal
    runs, exactly T5's sentinel rule), counted by a left fold over the
    group-mask array carrying (prev, spans). All outputs are integers:

    - n_tokens   whitespace tokens
    - n_masked   masked tokens (last group may be short)
    - n_spans    maximal masked runs == sentinels inserted
    - enc_len    n_tokens - n_masked + n_spans
    - tgt_len    n_masked + n_spans

    Zero-token documents are dropped (nothing to corrupt).

    Scale shape — posexplode into CODEGEN, then one doc-keyed
    hash-agg, NOT an in-row HOF fold: higher-order-function lambdas
    evaluate INTERPRETED per element, and with an md5 + base-conv per
    group that measured ~90us/group (a 500k-doc corpus took 14s; the
    char_entropy bound-lambda trick fixes tree SIZE, not per-element
    interpretation). Exploding the group stream runs the same
    expressions inside whole-stage codegen (~25x less CPU, measured
    3.9x end-to-end at 500k docs) and the run-merge fold becomes
    sum(m * (1 - m_prev)) with m_prev a second codegen md5 (g = 0
    pins m_prev = 0) — cheaper than any sort/lag window. The narrow
    (doc_id, 3 ints) stream collapses map-side: generated rows of one
    doc are co-partitioned with their source row, so the partial agg
    reduces the exchange to ~one row per doc.
    """
    d = _ensure_parallelism(with_token_count(df)).filter(
        F.col("n_tokens") > 0
    )
    n_groups = f"((n_tokens + {span - 1}) div {span})"

    def _sel(gexpr: str) -> str:
        return (
            f"IF(CAST(conv(substring(md5(concat("
            f"CAST(doc_id AS STRING), '#sc', CAST({gexpr} AS STRING)"
            f")), 1, 4), 16, 10) AS INT) % 100 < {density_pct}, 1, 0)"
        )

    ex = d.select(
        "doc_id",
        "n_tokens",
        F.posexplode(F.expr(f"sequence(0, {n_groups} - 1)")).alias(
            "_i", "g"
        ),
    ).select(
        "doc_id",
        "n_tokens",
        F.expr(_sel("g")).alias("_m"),
        F.expr(f"IF(g = 0, 0, {_sel('g - 1')})").alias("_mp"),
        # full groups carry `span` tokens, the last the remainder
        F.expr(
            f"IF(g < {n_groups} - 1, {span},"
            f" n_tokens - {span} * g)"
        ).alias("_sz"),
    )
    stats = ex.groupBy("doc_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.sum(F.col("_m") * F.col("_sz"))
        .cast("long")
        .alias("n_masked"),
        F.sum(F.col("_m") * (1 - F.col("_mp")))
        .cast("long")
        .alias("n_spans"),
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        "n_masked",
        "n_spans",
        (
            F.col("n_tokens") - F.col("n_masked") + F.col("n_spans")
        ).alias("enc_len"),
        (F.col("n_masked") + F.col("n_spans")).alias("tgt_len"),
    )


def extractive_coverage(df: DataFrame) -> DataFrame:
    """Extractiveness sheet for (context, target) pairs (Grusky '18
    "Newsroom" coverage, the ROUGE-adjacent copy-detection signal SFT
    curation uses): the fraction of the target's DISTINCT unigrams /
    bigrams that also appear in the context — a target lifted verbatim
    from its context reads ~1.0 (copy-paste answers, extractive
    summaries); a fully abstractive one reads near 0.

    Input: (pair_id, context, target). Returns (pair_id, tgt_tokens,
    uni_cov, bi_cov) — counts exact ints, coverages float32 casts of
    exact-int divisions; pairs with an empty target are dropped
    (coverage of nothing is undefined).

    Pure map, zero shuffle: per-row HOF membership tests
    (filter + array_contains over the two token arrays), never an
    explode+join of the pair-token stream. Bigram arrays come from the
    shared transform(sequence) construction with the size >= 2 guard
    (Spark's sequence(1, 0) is DESCENDING, the pmi lesson).
    """
    toks = lambda c: F.split(F.lower(F.trim(c)), r"\s+")  # noqa: E731
    bigr = (
        "CASE WHEN size({a}) >= 2 THEN transform(sequence(0, "
        "size({a}) - 2), i -> concat({a}[i], ' ', {a}[i + 1])) "
        "ELSE array() END"
    )
    d = _ensure_parallelism(df).select(
        "pair_id",
        toks(F.col("context")).alias("_ctx"),
        toks(F.col("target")).alias("_tgt"),
    ).filter(
        (F.size("_tgt") > 0) & (F.array_join("_tgt", "") != "")
    )
    d = d.select(
        "pair_id",
        "_ctx",
        "_tgt",
        F.expr(bigr.format(a="_ctx")).alias("_ctx2"),
        F.expr(bigr.format(a="_tgt")).alias("_tgt2"),
    )
    uni_t = F.array_distinct("_tgt")
    bi_t = F.array_distinct("_tgt2")
    uni_hit = F.size(
        F.filter(uni_t, lambda t: F.array_contains("_ctx", t))
    )
    bi_hit = F.size(
        F.filter(bi_t, lambda t: F.array_contains("_ctx2", t))
    )

    def frac(num, den):
        return (
            num.cast("double")
            / F.nullif(den, F.lit(0)).cast("double")
        ).cast("float")

    return d.select(
        "pair_id",
        F.size("_tgt").alias("tgt_tokens"),
        frac(uni_hit, F.size(uni_t)).alias("uni_cov"),
        frac(bi_hit, F.size(bi_t)).alias("bi_cov"),
    )


def shard_checksums(
    df: DataFrame, shards: int = 64
) -> DataFrame:
    """Data-versioning manifest: per shard (md5-bucketed on the key,
    the shard_assign hashing), row count, char total and an ORDER-
    INDEPENDENT content checksum — sum of the 32-bit md5 of
    ``key#text`` over the shard's rows. Two runs over the same data
    produce identical manifests regardless of partitioning or row
    order (integer sum is commutative and exact); any single changed /
    added / dropped row flips its shard's checksum — the "did anything
    change between snapshot A and B, and in which shard" primitive a
    100 TB corpus needs before re-running downstream stages
    (corpus_diff is the row-level follow-up on flagged shards).

    Returns (shard, n_docs, n_chars, checksum). One hash-agg with
    map-side partials, zero corpus shuffle beyond the 'shards'-row
    exchange. Overflow envelope: 32-bit row digests keep the BIGINT
    sum exact up to ~2^31 rows PER SHARD; size ``shards`` so shards
    stay under that (at 100 TB / 1e11 docs, 4096 shards leave 2.4e7
    rows each — five orders of margin).
    """
    digest = _md5_int(
        F.concat_ws(
            "#",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("text"), F.lit("")),
        ),
        8,
    )
    shard = _md5_int(F.col("doc_id").cast("string"), 4, "int") % shards
    return (
        _ensure_parallelism(df).select(
            shard.alias("shard"),
            digest.alias("_dg"),
            F.coalesce(F.length("text"), F.lit(0)).alias("_nc"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nc").cast("long").alias("n_chars"),
            F.sum("_dg").cast("long").alias("checksum"),
        )
    )


def length_quantiles(df: DataFrame) -> DataFrame:
    """Per-domain EXACT discrete token-length quantiles — the
    "how long are documents in each slice" sheet batch planners and
    mix designers read. PERCENTILE_DISC semantics: p_q = the smallest
    length whose cumulative count reaches ceil(q * n / 100); all
    integer arithmetic, zero cross-engine float risk (interpolating
    percentile_cont formulas differ between engines; disc does not).

    Scale shape — the count-table (level) discipline, NOT a
    percentile over the corpus: token lengths collapse to a
    (domain, n_tokens) level table first (ONE hash-agg with map-side
    partials; levels per domain are bounded by the distinct-length
    count, ~10^3-10^4), the cumulative window runs over that tiny
    table, and each quantile is a conditional min. The corpus itself
    is touched once, map-only. No t-digest needed: the level table IS
    exact AND small — approx_percentile would trade exactness for
    nothing here (lengths are low-cardinality; contrast ccnet_buckets
    where scores are near-continuous).

    Returns (domain, n_docs, p<q>... ) one row per domain.
    """
    toked = with_token_count(df).select(
        F.col("source").alias("_dom"), "n_tokens"
    )
    # NULL lengths (NULL text) are excluded from the level table:
    # Spark windows sort NULLS FIRST, DuckDB NULLS LAST (the
    # score_normalize policy).
    levels = (
        toked.filter(F.col("n_tokens").isNotNull())
        .groupBy("_dom", "n_tokens")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("_dom")
        .orderBy("n_tokens")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = levels.select(
        "_dom",
        "n_tokens",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("_dom")).alias("n_dom"),
    )
    aggs = [F.max("n_dom").alias("n_docs")]
    for q in (25, 50, 75, 95):
        rank = F.expr(f"(n_dom * {q} + 99) div 100")
        aggs.append(
            F.min(
                F.when(F.col("cum") >= rank, F.col("n_tokens"))
            ).alias(f"p{q}")
        )
    return cum.groupBy("_dom").agg(*aggs).withColumnRenamed(
        "_dom", "source"
    )


def corpus_card(df: DataFrame) -> DataFrame:
    """Dataset-card governance sheet, ONE plan over the corpus: per
    domain, document/token/char counts plus the license and language
    composition — the summary a 100 TB corpus publishes alongside
    each snapshot (HuggingFace dataset cards; Gebru '21 datasheets).
    Composes the :data:`LICENSE_MARKERS` scan (permissive share) and
    the stopword language guess (English share) as pure-map COLUMNS
    feeding ONE hash-agg — never a corpus self-join; ratio columns
    are float32 casts of exact-BIGINT divisions.

    Returns (domain, n_docs, n_tokens, n_chars, n_permissive, n_en,
    pct_permissive, pct_en).
    """
    _tag, perm = _license_cols()
    base = with_lang_guess(
        with_token_count(_ensure_parallelism(df))
    ).select(
        F.col("source").alias("_dom"),
        "n_tokens",
        F.coalesce(F.length("text"), F.lit(0)).alias("_nc"),
        (F.col("lang_guess") == "en").cast("int").alias("_en"),
        perm.alias("permissive"),
    )
    agg = base.groupBy("_dom").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("_nc").cast("long").alias("n_chars"),
        F.sum("permissive").cast("long").alias("n_permissive"),
        F.sum("_en").cast("long").alias("n_en"),
    )

    def pct(num: str) -> F.Column:
        return (
            F.col(num).cast("double")
            / F.col("n_docs").cast("double")
        ).cast("float")

    return agg.select(
        F.col("_dom").alias("source"),
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_permissive",
        "n_en",
        pct("n_permissive").alias("pct_permissive"),
        pct("n_en").alias("pct_en"),
    )


def manifest_diff(
    a: DataFrame, b: DataFrame, shards: int = 64
) -> DataFrame:
    """Snapshot comparison at MANIFEST granularity — the cheap first
    pass of the versioning flow :func:`shard_checksums` promises:
    checksum both snapshots into ``shards`` rows each, full-outer join
    on the shard id, and flag which shards changed. Only flagged
    shards need the row-level :func:`~ocr_spark.operators.relational`
    corpus_diff — at 100 TB that turns "diff two snapshots" into two
    map-only manifest passes plus row work proportional to the CHANGED
    fraction.

    Returns (shard, n_docs_a, n_docs_b, checksum_a, checksum_b,
    changed) — changed = 1 iff any of count/chars/digest-sum differ
    (missing shard on either side counts as changed; counts coalesce
    to 0 for the join-shape, checksums to -1 so an empty shard never
    aliases a real zero checksum).

    Scale shape: two independent corpus hash-aggs (map-side partials)
    then a shards-row join — the corpus relations never join each
    other.
    """
    ca = shard_checksums(a, shards=shards)
    cb = shard_checksums(b, shards=shards)
    j = ca.alias("a").join(
        cb.alias("b"), F.col("a.shard") == F.col("b.shard"), "full_outer"
    )
    na = F.coalesce(F.col("a.n_docs"), F.lit(0)).alias("n_docs_a")
    nb_ = F.coalesce(F.col("b.n_docs"), F.lit(0)).alias("n_docs_b")
    ka = F.coalesce(F.col("a.checksum"), F.lit(-1)).alias("checksum_a")
    kb = F.coalesce(F.col("b.checksum"), F.lit(-1)).alias("checksum_b")
    return j.select(
        F.coalesce(F.col("a.shard"), F.col("b.shard")).alias("shard"),
        na,
        nb_,
        ka,
        kb,
        (
            (F.coalesce(F.col("a.n_docs"), F.lit(0))
             != F.coalesce(F.col("b.n_docs"), F.lit(0)))
            | (F.coalesce(F.col("a.n_chars"), F.lit(-1))
               != F.coalesce(F.col("b.n_chars"), F.lit(-1)))
            | (F.coalesce(F.col("a.checksum"), F.lit(-1))
               != F.coalesce(F.col("b.checksum"), F.lit(-1)))
        ).cast("int").alias("changed"),
    )
