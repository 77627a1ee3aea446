"""Query registry backing ``__spark_entry__.py``.

Each entry pairs a Spark implementation (built on the operators in
``ocr_spark.operators`` and the extraction pipeline) with an ANSI-SQL
oracle DuckDB runs on the same parquet tables. Column names and rounding
are aligned on both sides because the driver hashes values after sorting
columns by name.

Float policy: every derived double is ``round``-ed (2-4 dp) on both
sides so cross-engine summation order cannot flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ocr_spark.operators import clustering as CL
from ocr_spark.operators import convops as CV
from ocr_spark.operators import dedup as D
from ocr_spark.operators import graph as G
from ocr_spark.operators import pq as PQ
from ocr_spark.operators import prefops as PF
from ocr_spark.operators import relational as R
from ocr_spark.operators import search as SR
from ocr_spark.operators import similarity as S
from ocr_spark.operators import sketches as SK
from ocr_spark.operators import textops as X
from ocr_spark.operators import urlops as U
from ocr_spark.operators.textops import _STOP_SQL

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Shared HTML wrapper used by the html-route extraction check: the
# <article> body is the document text, so golden output == ws-collapsed
# input — SQL-expressible.
_HTML_PRE = (
    '<html><body><nav><ul><li><a href="/a">home link</a></li>'
    '<li><a href="/b">about pages</a></li></ul></nav><article><p>'
)
_HTML_POST = (
    "</p></article><footer><p>copyright footer legal notice</p>"
    "</footer></body></html>"
)

# canonical fingerprint of ``text`` (textops.with_fingerprint)
_FP_SQL = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"


def _ntok_sql(col: str = "text") -> str:
    """Whitespace token count of ``col``, 0 when blank
    (textops.with_token_count)."""
    return (
        f"CASE WHEN trim({col}) = '' THEN 0 "
        f"ELSE len(regexp_split_to_array(trim({col}), '\\s+')) END"
    )


def _hex_sum(col: str, n: int) -> str:
    """Unparenthesized DuckDB integer sum of the first ``n`` hex digits
    of an md5 column (the engine-portable hash-arithmetic pattern;
    ``col`` must hold the md5 hex string). n=4 is the 16-bit selector
    of the split/sample/upsample keys."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1)"
        + (f" * {16 ** (n - 1 - i)}" if i < n - 1 else "")
        for i in range(n)
    )


def _hex32(col: str) -> str:
    """DuckDB 32-bit integer from the first 8 hex digits of an md5
    column (used by kmv/winnow/dsir/nb_quality)."""
    return "(" + _hex_sum(col, 8) + ")"


# 8-bit sign-LSH bucket of an ``embedding`` list: bit i is set when
# embedding[i + 1] >= 0 (mirrors similarity.sign_bucket, dims=8).
_SIGN_BUCKET = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(8)
)


# DuckDB word-n-gram shingle CTEs ``toks``/``sh`` over the (doc_id,
# text) relation ``rel`` (mirrors dedup._with_shingles).
def _shingle_ctes(n: int, rel: str, toks: str, sh: str) -> str:
    return f"""{toks} AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
    FROM {rel}
),
{sh} AS (
    SELECT DISTINCT doc_id,
           unnest([array_to_string(t[i + 1:i + {n}], ' ')
                   for i in range(0, len(t) - {n - 1})]) AS shingle
    FROM {toks} WHERE len(t) >= {n}
)"""


def _sh_cte(n: int) -> str:
    return f"\n{_shingle_ctes(n, 'documents', 'toks', 'sh')}\n"


_SH_CTE = _sh_cte(3)

# Gopher A1 signal CTEs (ends with `s` = per-doc signals) and the
# composite pass predicate — shared by the gopher_rules oracle and the
# quality_ensemble composition so the rule set cannot silently diverge
_GOPHER_CTES = f"""t AS (
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN []
                        ELSE regexp_split_to_array(trim(text), '\\s+')
                   END AS ts,
                   list_filter(list_transform(
                       string_split(text, chr(10)), l -> trim(l)),
                       l -> l <> '') AS ls
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CAST(len(ts) AS BIGINT) AS word_count,
                   CASE WHEN len(ts) > 0 THEN round(
                       CAST(list_sum(list_transform(ts, x -> strlen(x)))
                            AS DOUBLE) / len(ts), 4) ELSE 0.0 END
                       AS mean_word_len,
                   CASE WHEN len(ts) > 0 THEN round(
                       CAST(len(list_filter(ts, x ->
                           strpos(x, '#') > 0 OR strpos(x, '...') > 0))
                            AS DOUBLE) / len(ts), 4) ELSE 0.0 END
                       AS symbol_ratio,
                   CASE WHEN len(ts) > 0 THEN round(
                       CAST(len(list_filter(ts, x ->
                           regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
                           / len(ts), 4) ELSE 0.0 END AS alpha_ratio,
                   CASE WHEN len(ls) > 0 THEN round(
                       CAST(len(list_filter(ls, l ->
                           l LIKE '- %' OR l LIKE '* %' OR l LIKE '• %'))
                            AS DOUBLE) / len(ls), 4) ELSE 0.0 END
                       AS bullet_ratio,
                   CASE WHEN len(ls) > 0 THEN round(
                       CAST(len(list_filter(ls, l -> l LIKE '%...'))
                            AS DOUBLE) / len(ls), 4) ELSE 0.0 END
                       AS ellipsis_ratio,
                   CAST(len(list_filter(ts, x ->
                       lower(x) IN ({_STOP_SQL}))) AS INT) AS stop_hits
            FROM t
        )"""

_GOPHER_PASS = """(word_count >= 20 AND word_count <= 100000
                AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
                AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
                AND stop_hits >= 2)"""

def _jaccard_sql(max_df: int, cand_cte: str | None = None) -> str:
    """Df-capped exact-Jaccard SELECT, mirroring ``dedup._cap_df`` and
    the pairs it feeds EXACTLY: shingles whose document frequency
    exceeds ``max_df`` are pruned before sizes/intersections, and the
    frequency is computed over the SAME relation the operator prunes —
    the full corpus for ``ngram_jaccard`` (``_jaccard_from_shingles``),
    the candidate documents, each once, when ``cand_cte`` names a
    (doc_a, doc_b) CTE (``_verify_candidates`` for minhash / winnow).
    Without the mirrored cap the two jaccard definitions diverge the
    moment any shingle's df exceeds the cap. The sf fixtures never reach
    the cap; ``tests/test_near_dup_verify.py`` pins the operator side
    on a corpus that does."""
    return f"""
WITH {_SH_CTE},
{_jaccard_ctes(max_df, cand_cte)}
SELECT doc_a, doc_b, inter,
       sa.sz AS size_a, sb.sz AS size_b,
       round(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter / (sa.sz + sb.sz - inter), 4) >= 0.05
"""


def _jaccard_ctes(max_df: int, cand_cte: str | None) -> str:
    """_jaccard_sql's CTEs over ``sh``: the (optionally candidate-
    restricted) shingles, their df cap, per-doc ``sizes`` and pairwise
    ``inter`` = (doc_a, doc_b, inter)."""
    restrict = (
        f"""cdocs AS (SELECT doc_a AS doc_id FROM {cand_cte}
                  UNION SELECT doc_b FROM {cand_cte}),
        shc AS (SELECT sh.doc_id, sh.shingle
                FROM sh JOIN cdocs USING (doc_id)),"""
        if cand_cte
        else "shc AS (SELECT doc_id, shingle FROM sh),"
    )
    return f"""{restrict}
dfp AS (SELECT shingle FROM shc GROUP BY shingle
        HAVING count(*) <= {max_df}),
shp AS (SELECT shc.doc_id, shc.shingle
        FROM shc JOIN dfp USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS sz FROM shp GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM shp a JOIN shp b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)"""


_JACCARD_SQL = _jaccard_sql(1000)


# shared fixture for the incremental (cross-run) dedup oracles:
# run-1 (committed) vs the run-2 increment with mangled remixes
_INCR_FIXTURE = """
run1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
incr AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id + 1000000000, replace(text, ' ', '  ')
    FROM documents WHERE doc_id < 50
)"""


def _minhash_ctes(sh: str, mh: str, bands: str, note: str = "") -> str:
    """MinHash signature CTE ``mh`` over the 3-gram shingles ``sh`` (16
    md5-slice hashes, dedup._minhash_agg's family) and its 8-band key
    CTE ``bands`` = (doc_id, band, band_key). ``note`` is SQL comment
    text opening the signature CTE."""
    return f"""{mh} AS ({note}
    SELECT doc_id, seed, part,
           min(substring(md5(seed || '#' || shingle),
                         part * 8 + 1, 8)) AS minhash
    FROM {sh}
    CROSS JOIN (SELECT unnest(range(0, 4)) AS seed)
    CROSS JOIN (SELECT unnest(range(0, 4)) AS part)
    GROUP BY 1, 2, 3
),
{bands} AS (
    SELECT doc_id, CAST((seed * 4 + part) // 2 AS INT) AS band,
           md5(array_to_string(list_sort(list(minhash)), '|')) AS band_key
    FROM {mh} GROUP BY doc_id, band
)"""


# LSH candidate pairs: documents sharing any (band, band_key)
_CANDS_CTE = """cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
)"""


def _bands_sql(rel: str, tag: str) -> str:
    """MinHash band-key CTE chain over an arbitrary (doc_id, text)
    relation — the _MINHASH_SQL hash family (3-gram shingles, 16
    md5-slice hashes, 8 bands) parameterized so the incremental oracle
    can band the committed and increment relations independently.
    Ends with ``b{tag}`` = (doc_id, band, band_key)."""
    return f"""
{_shingle_ctes(3, rel, f"t{tag}", f"sh{tag}")},
{_minhash_ctes(f"sh{tag}", f"mh{tag}", f"b{tag}")}"""


# Bipartite verify of band candidates between the ``b2``/``sh2`` side
# (doc_id) and the ``b1``/``sh1`` side (committed_id), as _bands_sql
# names them: exact Jaccard parts with the df cap (<= 1000) over the
# UNION ALL of both sides' candidate-doc shingles, mirroring the
# cross-pair form of dedup._verify_candidates that
# incremental_minhash_verified / decontaminate_fuzzy run. Ends with
# ``inter`` = (doc_id, committed_id, inter) beside ``szi``/``szc`` sizes.
_CROSS_JACCARD_CTES = """cand AS (
            SELECT DISTINCT b2.doc_id, b1.doc_id AS committed_id
            FROM b2 JOIN b1 USING (band, band_key)
        ),
        shi AS (
            SELECT sh2.doc_id, sh2.shingle FROM sh2
            WHERE sh2.doc_id IN (SELECT doc_id FROM cand)
        ),
        shco AS (
            SELECT sh1.doc_id AS committed_id, sh1.shingle FROM sh1
            WHERE sh1.doc_id IN (SELECT committed_id FROM cand)
        ),
        dfp AS (
            SELECT shingle FROM (
                SELECT shingle FROM shi
                UNION ALL SELECT shingle FROM shco
            ) GROUP BY shingle HAVING count(*) <= 1000
        ),
        ship AS (SELECT shi.* FROM shi JOIN dfp USING (shingle)),
        shcp AS (SELECT shco.* FROM shco JOIN dfp USING (shingle)),
        szi AS (
            SELECT doc_id, count(*) AS sz_i FROM ship GROUP BY doc_id
        ),
        szc AS (
            SELECT committed_id, count(*) AS sz_c FROM shcp
            GROUP BY committed_id
        ),
        inter AS (
            SELECT i.doc_id, c.committed_id, count(*) AS inter
            FROM ship i JOIN shcp c ON i.shingle = c.shingle
            GROUP BY 1, 2
        )"""


def _feats_sql(rel: str, tag: str) -> str:
    """Hashed uni+bigram bucket-stream CTE chain over an arbitrary
    (doc_id, text) relation — mirrors ``textops._dsir_features``
    (its 10,000 hash buckets), parameterized so the nb_quality oracle can
    featurize the pos / neg / scored relations independently. Ends
    with ``ft{tag}`` = (doc_id, bucket)."""
    return f"""
tk{tag} AS (
    SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
    FROM {rel} WHERE trim(text) <> ''
),
f0{tag} AS (
    SELECT doc_id, f FROM (SELECT doc_id, unnest(t) AS f FROM tk{tag})
    WHERE f <> ''
    UNION ALL
    SELECT doc_id, a || ' ' || b AS f FROM (
        SELECT doc_id, t[r.i + 1] AS a, t[r.i + 2] AS b
        FROM tk{tag}, unnest(range(0, len(t) - 1)) AS r(i)
        WHERE len(t) >= 2
    ) WHERE a <> '' AND b <> ''
),
ft{tag} AS (
    SELECT doc_id, {_hex32("h")} % 10000 AS bucket
    FROM (SELECT doc_id, md5(f) AS h FROM f0{tag})
)"""


# deterministic md5-token gibberish used by the nb_quality fixture
_GIB_SQL = (
    "array_to_string([substring(md5(x), 1, 6) "
    "for x in regexp_split_to_array(trim(text), '\\s+') if x <> ''], ' ')"
)


def _substring_sql(keep_first: bool) -> str:
    """Oracle for dedup.substring_dedup (min_len=25, min_df=2) over the
    corpus + the remix rows both substring driver queries union in:
    positioned 25-gram md5s, df>=2 grams mark duplicated starts, the
    union of [start, start+25) drops, kept tokens rejoin in order.
    ``keep_first`` mirrors the per-gram canonical (min doc_id, pos)
    keep-one policy via a row_number window."""
    dstart = (
        """dstart AS (
            SELECT doc_id, pos0 FROM (
                SELECT doc_id, pos0, row_number() OVER (
                    PARTITION BY gh ORDER BY doc_id, pos0) AS rn
                FROM g JOIN dup USING (gh)
            ) WHERE rn > 1
        )"""
        if keep_first
        else "dstart AS (SELECT doc_id, pos0 FROM g JOIN dup USING (gh))"
    )
    return f"""
        WITH unioned AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000000,
                   'planted prefix tokens ' || trim(text)
                       || ' planted suffix'
            FROM documents WHERE doc_id < 50
        ),
        base AS (
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                        ELSE regexp_split_to_array(trim(text), '\\s+')
                   END AS t
            FROM unioned
        ),
        g AS (
            SELECT doc_id, r.i AS pos0,
                   md5(array_to_string(t[r.i + 1:r.i + 25], ' ')) AS gh
            FROM base, unnest(range(0, len(t) - 24)) AS r(i)
            WHERE len(t) >= 25
        ),
        dup AS (
            SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM g)
            GROUP BY gh HAVING count(*) >= 2
        ),
        {dstart},
        toks AS (
            SELECT doc_id, r.i AS i, t[r.i + 1] AS tok
            FROM base, unnest(range(0, len(t))) AS r(i)
        ),
        dropped AS (
            SELECT DISTINCT tk.doc_id, tk.i
            FROM toks tk JOIN dstart d
              ON tk.doc_id = d.doc_id
             AND tk.i >= d.pos0 AND tk.i < d.pos0 + 25
        ),
        kept AS (
            SELECT tk.doc_id, tk.i, tk.tok
            FROM toks tk
            WHERE NOT EXISTS (
                SELECT 1 FROM dropped dr
                WHERE dr.doc_id = tk.doc_id AND dr.i = tk.i
            )
        ),
        agg AS (
            SELECT doc_id,
                   string_agg(tok, ' ' ORDER BY i) AS text_clean,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id
        )
        SELECT b.doc_id,
               coalesce(a.text_clean, '') AS text_clean,
               CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
               CAST(len(b.t) - coalesce(a.n_kept, 0) AS BIGINT)
                   AS n_dropped
        FROM base b LEFT JOIN agg a USING (doc_id)
    """

_MINHASH_NOTE = """
    -- hash family = ocr_spark.operators.dedup._minhash_agg: element
    -- i = seed*4 + part is the part-th 32-bit hex slice of
    -- md5(seed || '#' || shingle); min over a doc's shingles"""

_MINHASH_SQL = f"""
WITH {_SH_CTE},
{_minhash_ctes("sh", "mh", "bands", _MINHASH_NOTE)},
{_CANDS_CTE},
-- verification jaccard mirrors _jaccard_sql: df-capped (<=1000) over
-- the candidate-doc-restricted relation, exactly like the Spark side's
-- sh_cand pruning in minhash_lsh_pairs
{_jaccard_ctes(1000, "cands")},
ver AS (
    SELECT doc_a, doc_b,
           round(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT c.doc_a, c.doc_b, v.jaccard
FROM cands c JOIN ver v ON c.doc_a = v.doc_a AND c.doc_b = v.doc_b
WHERE v.jaccard >= 0.05
"""

# connected components of the verified LSH pair graph: every node's
# labels ``r`` reach the min doc_id through near-dup edges (recursive
# transitive min) — near_dup_groups and near_dup_keep_best
_CC_CTES = f"""pairs AS ({_MINHASH_SQL}),
        edges AS (
            SELECT doc_a, doc_b FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        nodes AS (SELECT DISTINCT doc_a AS doc_id FROM edges),
        r AS (
            SELECT doc_id, doc_id AS lab FROM nodes
            UNION
            SELECT e.doc_b AS doc_id, r.lab
            FROM r JOIN edges e ON e.doc_a = r.doc_id
        )"""


def _simhash_agg_ctes(bits: int) -> str:
    """CTEs ending in ``agg`` = (doc_id, s0..s{bits-1}): per-doc sums of
    +1/-1 bit votes over the distinct tokens' ``bits``-bit md5 prefixes
    (the dedup.simhash vote), shared by the simhash oracles."""
    sums = []
    for j in range(bits):
        d = j // 4
        shift = j % 4
        digit = (
            f"(strpos('0123456789abcdef', substring(hx, {d + 1}, 1)) - 1)"
        )
        sums.append(
            f"sum(CASE WHEN (({digit} >> {shift}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS s{j}"
        )
    return f"""toks AS (
    SELECT DISTINCT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
    FROM documents
),
hexed AS (
    SELECT doc_id, substring(md5(tok), 1, {bits // 4}) AS hx
    FROM toks WHERE tok <> ''
),
agg AS (SELECT doc_id, {', '.join(sums)} FROM hexed GROUP BY doc_id)"""


def _simhash_pairs_sql(bits: int = 64, bands: int = 4,
                       max_hamming: int = 3) -> str:
    """Quadratic reference for the banded-Hamming pair query: every
    pair with hamming <= max_hamming shares >= 1 exact band when
    max_hamming < bands (pigeonhole), so the band join changes nothing
    about the result set and the oracle can skip it."""
    w = bits // bands
    band_cols = []
    for b in range(bands):
        expr = " + ".join(
            f"(CASE WHEN s{b * w + i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(w)
        )
        band_cols.append(f"CAST({expr} AS INT) AS band{b}")
    ham = " + ".join(
        f"bit_count(xor(a.band{b}, b.band{b}))" for b in range(bands)
    )
    return f"""
WITH {_simhash_agg_ctes(bits)},
bands AS (SELECT doc_id, {', '.join(band_cols)} FROM agg)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({ham} AS INT) AS hamming
FROM bands a JOIN bands b ON a.doc_id < b.doc_id
WHERE {ham} <= {max_hamming}
"""


def _simhash_sql(bits: int = 16) -> str:
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    return f"""
WITH {_simhash_agg_ctes(bits)}
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM agg
"""


# media feature vectors recomputed in SQL: byte-stripe means of the
# UTF-8 body via hex(encode(text)); sum/count/256 is the same correctly-
# rounded IEEE double the kernel computes, and the FLOAT cast matches
# its Arrow float32 conversion bit-for-bit. Shared by media_features
# (scalar projection) and media_near_dup (feeds the ANN oracle).
_MEDIA_FEATURES_SQL = """
        WITH p AS (
            SELECT doc_id, hex(encode(text)) AS h,
                   strlen(text) AS n,
                   greatest(1, strlen(text) // 8) AS stripe
            FROM documents
        ),
        b AS (
            SELECT doc_id, i // stripe AS d,
                   16 * (strpos('0123456789ABCDEF', substr(h, 2*i + 1, 1)) - 1)
                     + (strpos('0123456789ABCDEF', substr(h, 2*i + 2, 1)) - 1)
                     AS v
            FROM p, unnest(range(0, n)) AS t(i)
            WHERE i // stripe < 8
        ),
        m AS (
            SELECT doc_id, d,
                   CAST(sum(v) / count(*) / 256.0 AS FLOAT) AS f
            FROM b GROUP BY doc_id, d
        )
        SELECT p.doc_id,
               CAST(coalesce(max(CASE WHEN d = 0 THEN f END), 0.0) AS FLOAT) AS f0,
               CAST(coalesce(max(CASE WHEN d = 1 THEN f END), 0.0) AS FLOAT) AS f1,
               CAST(coalesce(max(CASE WHEN d = 2 THEN f END), 0.0) AS FLOAT) AS f2,
               CAST(coalesce(max(CASE WHEN d = 3 THEN f END), 0.0) AS FLOAT) AS f3,
               CAST(coalesce(max(CASE WHEN d = 4 THEN f END), 0.0) AS FLOAT) AS f4,
               CAST(coalesce(max(CASE WHEN d = 5 THEN f END), 0.0) AS FLOAT) AS f5,
               CAST(coalesce(max(CASE WHEN d = 6 THEN f END), 0.0) AS FLOAT) AS f6,
               CAST(coalesce(max(CASE WHEN d = 7 THEN f END), 0.0) AS FLOAT) AS f7
        FROM p LEFT JOIN m ON p.doc_id = m.doc_id
        GROUP BY p.doc_id
"""


# --------------------------------------------------------------------------
# query implementations (spark, sf_dir) -> DataFrame
# --------------------------------------------------------------------------


def q_run_stats_lineitem(spark, sf_dir):
    """O17 hash aggregation (TPC-H Q1 shape)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_window_turn_order(spark, sf_dir):
    """O14/window: stable intra-group ordering via row_number."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


def q_anti_join_resume(spark, sf_dir):
    """O16 resume shape: units without a committed row (left_anti).

    The "committed" set is a deterministic subset (custkey % 4 == 0) so
    the anti-join provably returns the uncommitted remainder — at these
    SFs every customer has orders, which would make the natural
    customers-without-orders query a trivially-empty (weak) check.
    """
    cust = load(spark, sf_dir, "customer")
    committed = cust.filter(F.col("c_custkey") % 4 == 0).select("c_custkey")
    return R.resume_anti_join(
        cust.select("c_custkey"), committed, "c_custkey"
    )


def q_override_join(spark, sf_dir):
    """O13 upsert: broadcast left join + coalesce."""
    docs = load(spark, sf_dir, "documents")
    overrides = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select(
            F.col("doc_id"),
            F.lit("OVERRIDDEN").alias("text"),
        )
    )
    ov = overrides.select("doc_id", F.col("text").alias("_o"))
    return (
        docs.join(F.broadcast(ov), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_o", "text").alias("text_final"),
            F.col("_o").isNotNull().alias("overridden"),
        )
    )


def q_dedup_exact(spark, sf_dir):
    return D.exact_dedup(load(spark, sf_dir, "documents"))


def q_token_count(spark, sf_dir):
    return X.with_token_count(load(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens"
    )


def q_token_count_bpe(spark, sf_dir):
    return X.with_token_count_bpe(load(spark, sf_dir, "documents")).select(
        "doc_id", "n_bpe_tokens"
    )


def q_lang_id(spark, sf_dir):
    return X.with_lang_guess(load(spark, sf_dir, "documents")).select(
        "doc_id", "stop_hits", "lang_guess"
    )


def q_quality_score(spark, sf_dir):
    return X.with_quality(load(spark, sf_dir, "documents")).select(
        "doc_id", "quality"
    )


def q_fingerprint(spark, sf_dir):
    return X.with_fingerprint(load(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


def q_redact_pii(spark, sf_dir):
    """PII scrubbing over documents with deterministically injected
    emails/URLs/IPv4s/SSNs/IBANs/phones (the corpus has none naturally;
    injection is identical in the oracle, so counts and redacted text
    hash-match)."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit(" contact user7@example.com now"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.lit(" see https://example.org/page?id=1"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.lit(" call +1 555-123-4567 today"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 17 == 0,
                F.lit(" host 192.168.101.204 up"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 19 == 0,
                F.lit(" ssn 123-45-6789 on file"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 23 == 0,
                F.lit(" pay DE89370400440532013000 ref"),
            ).otherwise(F.lit("")),
        ),
    )
    return X.redact_pii(docs).select(
        "doc_id",
        "n_emails",
        "n_urls",
        "n_ipv4s",
        "n_ssns",
        "n_ibans",
        "n_phones",
        "text_redacted",
    )


def q_gopher_rules(spark, sf_dir):
    """Gopher A1 composite quality gate: per-doc signals + pass flag
    (min_words lowered to 20 so the synthetic corpus straddles the
    threshold instead of failing wholesale)."""
    return X.with_gopher_rules(
        load(spark, sf_dir, "documents"), min_words=20
    ).select(
        "doc_id", "word_count", "mean_word_len", "symbol_ratio",
        "alpha_ratio", "bullet_ratio", "ellipsis_ratio", "stop_hits",
        "gopher_pass",
    )


def _c4_docs(spark, sf_dir):
    """Documents rebuilt with deterministic line/sentence structure
    (the synthetic corpus has neither newlines nor punctuation): three
    24-char sentence chunks, a planted no-punctuation line (%4), a
    javascript line (%7), a lorem-ipsum line (%11), a curly-brace line
    (%13), a blocklist-word line (%17), a 2-sentence closer — and %19
    docs replaced wholesale by a 1-sentence page (the min_sentences
    branch). Mirrored verbatim in the oracle."""
    t = F.col("text")
    built = F.concat(
        F.substring(t, 1, 24), F.lit(". "),
        F.substring(t, 25, 24), F.lit(". "),
        F.substring(t, 49, 24), F.lit("."),
        F.when(F.col("doc_id") % 4 == 0, F.lit("\nclick here"))
        .otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit("\nenable javascript to continue."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit("\nlorem ipsum dolor sit amet."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.lit("\nfunction() { return 1; }"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 17 == 0,
            F.lit("\nthis page mentions forbiddenzz here."),
        ).otherwise(F.lit("")),
        F.lit("\n"),
        F.substring(t, 73, 24),
        F.lit(" done? ok then. fine now."),
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 19 == 0, F.lit("too short."))
        .otherwise(built)
        .alias("text"),
    )


def q_c4_rules(spark, sf_dir):
    """C4 page/line cleaning rules over the line-structured fixture:
    every rule branch is exercised (planted lines per modulus class)
    and the oracle recomputes line filter + page flags in SQL."""
    return X.c4_rules(
        _c4_docs(spark, sf_dir), blocklist=["forbiddenzz"]
    ).select("doc_id", "text_clean", "c4_kept")


def q_repetition(spark, sf_dir):
    """Gopher-style repetition signals: duplicated 2/3-gram and line
    fractions per document (curation quality rules)."""
    return X.with_repetition(load(spark, sf_dir, "documents")).select(
        "doc_id", "rep_2gram", "rep_3gram", "rep_line"
    )


def q_pack_sequences(spark, sf_dir):
    """Sample packing: contiguous doc->sequence assignment inside hash
    shards (per-shard window cumsum; never a global sort)."""
    return X.pack_sequences(
        load(spark, sf_dir, "documents"), seq_len=512, shards=8
    )


def q_rollup_stats(spark, sf_dir):
    """Grouping sets / rollup coverage (SURVEY §2.2): lineitem stats at
    (flag, status), (flag) and grand-total levels in ONE pass — Catalyst
    expands the rollup, partial aggregation still applies."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "sum_qty",
            "n_rows",
        )
    )


def q_set_ops(spark, sf_dir):
    """Explicit set-operation coverage: customers in AUTOMOBILE or
    BUILDING segments (union), minus those with account balance < 0
    (except), intersected with custkey % 3 == 0 (intersect)."""
    c = load(spark, sf_dir, "customer")
    auto = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    bld = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    neg = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    third = c.filter(F.col("c_custkey") % 3 == 0).select("c_custkey")
    return auto.union(bld).exceptAll(neg).intersect(third)


def q_events_by_day(spark, sf_dir):
    """Date/time function coverage: per-day event counts + daily value
    sums via date_trunc (the time-rollup shape of telemetry tables)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def q_as_of_join(spark, sf_dir):
    """Point-in-time (as-of) join: every event gets the most recent
    marker event (event_id % 10 == 0) at-or-before its timestamp for
    the same user — union-tag + running last-non-null, never a range
    join (see relational.as_of_join)."""
    ev = load(spark, sf_dir, "events")
    markers = ev.filter(F.col("event_id") % 10 == 0).select(
        "user_id", "ts", F.col("event_id").alias("rid"), "value"
    )
    out = R.as_of_join(
        ev.select("event_id", "user_id", "ts"),
        markers,
        key="user_id",
        ts="ts",
        payload={"value": "marker_value", "rid": "marker_id"},
        right_id="rid",
    )
    return out.select("event_id", "user_id", "marker_id", "marker_value")


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min silence starts a new session),
    aggregated to one row per session."""
    ev = load(spark, sf_dir, "events")
    s = R.sessionize(ev, gap_minutes=30)
    return s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "start_ts"
        ),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("end_ts"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_curation_pipeline(spark, sf_dir):
    """Composite curation pass — the operators composing the way a real
    training-data job chains them: exact-dedup survivors -> language
    gate -> quality gate. Returns kept (doc_id, quality)."""
    docs = load(spark, sf_dir, "documents")
    keep = D.exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    survivors = docs.join(keep, "doc_id", "left_semi")
    scored = X.with_quality(X.with_lang_guess(survivors))
    return scored.filter(
        (F.col("quality") >= 0.5) & (F.col("lang_guess") == "en")
    ).select("doc_id", "quality")


def _banner_injected_docs(spark, sf_dir):
    """Documents with deterministically injected boilerplate banner
    lines (the synthetic corpus has no newlines naturally; the same
    injection appears verbatim in the oracles)."""
    return load(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("subscribe to our newsletter today\n"),
            ).otherwise(F.lit("")),
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\nall rights reserved copyright notice"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("\nfollow us on example social network"),
            ).otherwise(F.lit("")),
        ),
    )


def q_line_dedup(spark, sf_dir):
    """C4-style line-level dedup over documents with deterministically
    injected boilerplate lines. Lines shared across > 1 document — the
    injected banners AND body lines of exact-duplicate docs — are
    removed everywhere."""
    return D.line_dedup(_banner_injected_docs(spark, sf_dir), max_df=1)


def _remixed_docs(spark, sf_dir):
    """Documents plus remix rows (+10^9 ids) embedding the full text of
    the first 50 docs between fresh prefix/suffix tokens — the fixture
    of both substring-dedup keys (mirrored by ``_substring_sql``)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    remix = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("planted prefix tokens"),
            F.trim("text"),
            F.lit("planted suffix"),
        ).alias("text"),
    )
    return docs.unionByName(remix)


def q_substring_dedup(spark, sf_dir):
    """Exact substring dedup (Lee et al. '21) exercised for real: the
    query unions in remix rows embedding the full text of the first 50
    docs between fresh prefix/suffix tokens, so every such span (plus
    any natural verbatim >= 25-token run across docs) must be scrubbed
    from BOTH the original and the remix, with rows preserved."""
    return D.substring_dedup(_remixed_docs(spark, sf_dir), min_len=25)


def q_substring_keep_first(spark, sf_dir):
    """Lee et al. keep-ONE semantics on the same remix fixture: the
    per-gram canonical (min doc_id, pos) occurrence survives, so the
    ORIGINAL docs keep their text and only the remix copies lose the
    embedded span."""
    return D.substring_dedup(
        _remixed_docs(spark, sf_dir), min_len=25, keep_first=True
    )


def q_web_curation(spark, sf_dir):
    """End-to-end RefinedWeb-style curation as ONE Catalyst plan:
    banner-injected corpus -> line-level dedup -> exact-dedup survivors
    on the CLEANED text -> 13-gram decontamination against the CLEANED
    eval docs (soak-verified order: boilerplate removal FIRST, or
    banner-spanning n-grams cross-contaminate unrelated docs) -> kept
    documents. Proves the curation operators compose with the oracle
    agreeing end-to-end, not just stage-by-stage."""
    docs = _banner_injected_docs(spark, sf_dir)
    cleaned = D.line_dedup(docs, max_df=1).select(
        "doc_id",
        F.col("text_clean").alias("text"),
        "n_kept",
        "n_dropped",
    )
    keep = D.exact_dedup(cleaned).select(F.col("keep_id").alias("doc_id"))
    surv = cleaned.join(keep, "doc_id", "left_semi")
    bench = cleaned.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    flags = D.decontaminate(surv, bench, n=13)
    return (
        surv.join(flags, "doc_id")
        .filter(~F.col("contaminated"))
        .select("doc_id", "n_kept", "n_dropped")
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: the synthetic eval set is every 17th
    document; any corpus doc sharing a 13-gram with it (including the
    eval docs themselves and their exact duplicates) is flagged."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return D.decontaminate(docs, bench, n=13)


def q_contamination_report(spark, sf_dir):
    """Per-eval-doc gram coverage: the synthetic eval set is every
    17th doc with every 20th token replaced by an out-of-corpus marker
    — grams inside the 19-token runs still hit (contiguous in the
    original), grams spanning a marker never do, so coverage lands
    mid-range and both count branches are exercised."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    bench = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(
            F.transform(
                toks,
                lambda t, i: F.when(
                    i % 20 == 0, F.lit("xmarkerx")
                ).otherwise(t),
            ),
            " ",
        ).alias("text"),
    )
    return D.contamination_report(docs, bench, n=13)


def q_decontaminate_fuzzy(spark, sf_dir):
    """Fuzzy (MinHash-verified Jaccard) decontamination: the synthetic
    eval set is the first half of every 17th document's tokens —
    truncation breaks exact long-n-gram overlap semantics but leaves
    3-gram Jaccard ~0.5, exactly the near-duplicate-leak shape the
    fuzzy filter exists for."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    half = F.greatest(
        F.lit(3), F.floor(F.size(toks) / 2).cast("int")
    )
    bench = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(toks, F.lit(1), half), " ").alias("text"),
    )
    return D.decontaminate_fuzzy(docs, bench, threshold=0.3)


def _incremental_split(spark, sf_dir):
    """(run1, incr) of the cross-run dedup keys: run-1 commits docs with
    doc_id % 3 != 0; the run-2 increment is the even docs plus
    ws-mangled copies of the first 50 (+10^9 ids). Mirrored by the
    oracles' ``_INCR_FIXTURE``."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    run1 = docs.filter(F.col("doc_id") % 3 != 0)
    incr = docs.filter(F.col("doc_id") % 2 == 0).unionByName(
        docs.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 1000000000).alias("doc_id"),
            F.regexp_replace("text", " ", "  ").alias("text"),
        )
    )
    return run1, incr


def q_incremental_dedup(spark, sf_dir):
    """Incremental (cross-run) exact dedup: run-1 commits docs with
    doc_id % 3 != 0; the run-2 increment is the even docs plus
    ws-mangled copies of the first 50 (+10^9 ids). Survivors are
    increment fingerprint groups NOT already committed, min-id kept —
    e.g. doc 6 (not committed, even) survives grouped with its mangled
    copy, doc 4 (committed) contributes nothing. The committed side
    here is derived in-plan (exact_dedup over run-1); the parquet
    FingerprintStore round-trip + idempotent re-ingest is pinned by
    pytest."""
    run1, incr = _incremental_split(spark, sf_dir)
    committed = D.exact_dedup(run1).select("fingerprint", "keep_id")
    return D.incremental_exact_dedup(incr, committed)


def q_incremental_dedup_bloom(spark, sf_dir):
    """The Bloom-prefilter path of incremental_exact_dedup: identical
    fixture and (by construction) identical result to
    incremental_dedup — the bloom only routes rows around the
    anti-join — so the SAME oracle must hash-match, proving the
    prefilter is exactness-preserving on the gate corpus."""
    run1, incr = _incremental_split(spark, sf_dir)
    committed = D.exact_dedup(run1).select("fingerprint", "keep_id")
    return D.incremental_exact_dedup(incr, committed, bloom_bits=1 << 20)


def q_incremental_minhash(spark, sf_dir):
    """Incremental near-dup screening against the committed MinHash
    band-key store: same run-1/run-2 split as incremental_dedup; an
    increment doc sharing any (band, band_key) with run-1 is flagged a
    candidate near-dup of committed content (band-candidate semantics —
    the store keeps band keys, never shingles)."""
    run1, incr = _incremental_split(spark, sf_dir)
    committed = D.band_keys(run1).select("band", "band_key")
    return D.incremental_minhash_flags(incr, committed)


def q_incremental_verified(spark, sf_dir):
    """Verified incremental near-dup on the same run-1/run-2 split:
    band candidates from the committed band-key store, exact
    cross-corpus Jaccard on candidate docs only (committed text read
    back from the kept corpus). Identical docs present in both runs
    and the ws-mangled remixes of committed docs verify at 1.0."""
    run1, incr = _incremental_split(spark, sf_dir)
    committed = D.band_keys(run1)
    return D.incremental_minhash_verified(incr, committed, run1)


def q_ngram_jaccard(spark, sf_dir):
    return D.ngram_jaccard_pairs(load(spark, sf_dir, "documents"))


def q_minhash_lsh(spark, sf_dir):
    return D.minhash_lsh_pairs(load(spark, sf_dir, "documents"))


def q_minhash_estimate(spark, sf_dir):
    """LSH candidates scored by signature agreement (n_match/16, the
    Broder unbiased Jaccard estimator) — the constant-width verify
    path; min_match=1 keeps every candidate so both the band join and
    the component-compare arithmetic are exercised."""
    return D.minhash_estimate_pairs(
        load(spark, sf_dir, "documents"), min_match=1
    )


def q_simhash(spark, sf_dir):
    return D.simhash(load(spark, sf_dir, "documents"))


def q_simhash_pairs(spark, sf_dir):
    """64-bit SimHash near-dup pairs via the Manku 4-band Hamming
    bucket join (oracle verifies against the quadratic formulation —
    equivalent by pigeonhole since max_hamming < bands)."""
    return D.simhash_hamming_pairs(
        load(spark, sf_dir, "documents"), bits=64, bands=4, max_hamming=3
    )


def q_near_dup_groups(spark, sf_dir):
    """Connected components over the LSH near-dup graph (iterative
    min-label propagation; oracle = recursive CTE transitive min)."""
    return D.near_dup_groups(load(spark, sf_dir, "documents"))


def q_near_dup_keep_best(spark, sf_dir):
    """Near-dup clusters (verified MinHash+LSH pairs + connected
    components) resolved by keep-BEST quality (ties -> min id) instead
    of keep-min-id — the Dolma-style production rule. Oracle: the
    recursive-CTE component labelling + the quality expression + a
    rank-1 cut per cluster."""
    docs = X.with_quality(load(spark, sf_dir, "documents"))
    return D.near_dup_keep_best(docs, "quality").select(
        "doc_id", "source", "n_chars"
    )


def q_char_entropy(spark, sf_dir):
    """Letter-distribution Shannon entropy + letter fraction per doc
    (gibberish/encoded-blob signal); float32-cast both engines."""
    return X.char_entropy(load(spark, sf_dir, "documents")).select(
        "doc_id", "char_entropy", "letter_frac"
    )


def q_hash_split(spark, sf_dir):
    """Leakage-safe train/val/test split keyed on l_orderkey: every
    lineitem of an order lands in the same split (group coherence is
    the point — the oracle recomputes the same md5 interval cut)."""
    li = load(spark, sf_dir, "lineitem")
    return X.hash_split(
        li, {"val": 0.05, "test": 0.05}, key_col="l_orderkey"
    ).select("l_orderkey", "l_linenumber", "split")


def q_shard_assign(spark, sf_dir):
    """Deterministic corpus shuffle -> 8 training shards with
    within-shard positions; reproducible across engines (md5 order)."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return X.shard_assign(docs, n_shards=8).select(
        "doc_id", "shard", "pos"
    )


def q_train_shards(spark, sf_dir):
    """Last-mile training-data composition: a checkpointed
    char-entropy quality gate (drops the low-entropy ~quartile) ->
    leakage-safe hash split -> per-split deterministic shard
    materialization. What a loader consumes: (doc_id, split, shard,
    pos) with pos contiguous within each (split, shard)."""
    # r6: checkpoint the NARROW (doc_id, entropy, frac) flags before the
    # gate — a filter on the raw char_entropy output inlines the
    # interpreted-HOF entropy tree into the predicate where codegen's
    # subexpression elimination cannot reach it (measured: the gate
    # alone 4.8s vs 0.7s for computing the columns once, sf1.0; 3
    # regexp_replace instances in the pre-fix plan). Everything
    # downstream derives from doc_id only, so the kept-id relation IS
    # the split/shard input; the output is unchanged.
    flags = (
        X.char_entropy(load(spark, sf_dir, "documents"))
        .select("doc_id", "char_entropy", "letter_frac")
        .localCheckpoint()
    )
    kept = flags.filter(
        (F.col("char_entropy") >= 2.85) & (F.col("letter_frac") >= 0.3)
    ).select("doc_id")
    split = X.hash_split(
        kept, {"val": 0.02, "test": 0.02}, key_col="doc_id"
    )
    return X.shard_assign(
        split, n_shards=8, key_col="doc_id", by=("split",)
    ).select("doc_id", "split", "shard", "pos")


def _intra_docs(spark, sf_dir):
    """Documents rebuilt with deterministic repeated-line structure
    (the synthetic corpus is single-line): five 20-char chunk lines
    with line 3 always a repeat of line 1 and line 5 a repeat of
    line 2 on %3 docs. Mirrored verbatim in the oracle."""
    t = F.col("text")
    l1 = F.substring(t, 1, 20)
    l2 = F.substring(t, 21, 20)
    l5 = F.when(F.col("doc_id") % 3 == 0, l2).otherwise(
        F.substring(t, 61, 20)
    )
    built = F.concat_ws("\n", l1, l2, l1, F.substring(t, 41, 20), l5)
    return load(spark, sf_dir, "documents").select(
        "doc_id", built.alias("text")
    )


def q_intra_doc_dedup(spark, sf_dir):
    """Within-page repeated-line collapse (RefinedWeb intra-doc half):
    first occurrence kept, original order preserved, pure map."""
    return D.intra_doc_dedup(_intra_docs(spark, sf_dir)).select(
        "doc_id", "text_clean", "n_lines", "n_dropped"
    )


def q_token_budget_mix(spark, sf_dir):
    """Exact per-domain token-budget mix: hash-ordered prefix of every
    source until 600 whitespace tokens are reached (the oracle
    recomputes the same running sum over the same md5 order)."""
    return X.token_budget_mix(
        load(spark, sf_dir, "documents"), budget_tokens=600
    )


def q_quality_select(spark, sf_dir):
    """FineWeb-Edu-style within-domain top-40% quality selection with
    a deterministic (quality DESC, doc_id) boundary."""
    return X.quality_select(
        load(spark, sf_dir, "documents"), frac=0.4
    )


def _dirty_docs(spark, sf_dir, keep=()):
    """Documents deterministically dirtied for unicode_clean: curly
    quote wrap (%3), appended ellipsis (%5), soft hyphen inside 'row',
    zero-width space after every 'e', nbsp around ' a ' (%2), em-dash
    suffix (%11), BEL control prefix (%7), BOM prefix (all) — applied
    in this exact order in both engines. ``keep`` carries extra
    columns (e.g. source) for compositions."""
    d = F.col("doc_id")
    s = F.col("text")
    s = F.when(
        d % 3 == 0, F.concat(F.lit("\u201c"), s, F.lit("\u201d"))
    ).otherwise(s)
    s = F.when(d % 5 == 0, F.concat(s, F.lit("\u2026"))).otherwise(s)
    s = F.replace(s, F.lit("row"), F.lit("r\u00adow"))
    s = F.replace(s, F.lit("e"), F.lit("e\u200b"))
    s = F.when(
        d % 2 == 0,
        F.replace(s, F.lit(" a "), F.lit(" \u00a0a\u00a0 ")),
    ).otherwise(s)
    s = F.when(d % 11 == 0, F.concat(s, F.lit("\u2014done"))).otherwise(s)
    s = F.when(d % 7 == 0, F.concat(F.lit("\x07"), s)).otherwise(s)
    s = F.concat(F.lit("\ufeff"), s)
    return load(spark, sf_dir, "documents").select(
        "doc_id", s.alias("text"), *keep
    )


def q_unicode_clean(spark, sf_dir):
    """ftfy-lite unicode canonicalization over the dirtied fixture:
    quotes/dashes/spaces to ASCII, zero-width/control strip, ellipsis
    expansion, whitespace collapse — pure map, oracle mirrors every
    pass in RE2."""
    return X.unicode_clean(_dirty_docs(spark, sf_dir)).select(
        "doc_id", "text_clean", "n_chars_clean"
    )


# domain_upsample gate factors: 2.4 epochs for src0 (LLaMA-Wikipedia
# shape), 0.25 rate-sample for src1, exactly 3 epochs for src2, every
# other domain passes through once.
_UPSAMPLE_FACTORS = {"src0": 2.4, "src1": 0.25, "src2": 3.0}


def q_domain_upsample(spark, sf_dir):
    """Per-domain repetition-factor mixing (the up-sampling half of
    mix building): (doc_id, source, epoch) occurrence stream."""
    return X.domain_upsample(
        load(spark, sf_dir, "documents"), _UPSAMPLE_FACTORS
    )


def _upsample_ctes() -> str:
    """domain_upsample CTE chain ``f, e, occ(doc_id, source, epoch)``
    generated from _UPSAMPLE_FACTORS with the OPERATOR's own integer
    arithmetic (int(f) epochs + a 16-bit-selector threshold
    int((f - int(f)) * 65536)) so the float-to-threshold conversion
    cannot drift between engines."""
    nf_cases = " ".join(
        f"WHEN '{dom}' THEN {int(f)}"
        for dom, f in _UPSAMPLE_FACTORS.items()
    )
    thr_cases = " ".join(
        f"WHEN '{dom}' THEN {int((f - int(f)) * 65536)}"
        for dom, f in _UPSAMPLE_FACTORS.items()
    )
    return f"""f AS (
            SELECT doc_id, source,
                   CASE source {nf_cases} ELSE 1 END AS n_full,
                   CASE source {thr_cases} ELSE 0 END AS thr,
                   md5(CAST(doc_id AS VARCHAR) || '#up') AS h
            FROM documents
        ),
        e AS (
            SELECT doc_id, source,
                   n_full + CASE WHEN
                       {_hex_sum('h', 4)}
                       < thr THEN 1 ELSE 0 END AS n_epochs
            FROM f
        ),
        occ AS (
            SELECT doc_id, source,
                   CAST(unnest(generate_series(0, n_epochs - 1)) AS INT)
                       AS epoch
            FROM e WHERE n_epochs >= 1
        )"""


def _upsample_sql() -> str:
    return f"""
        WITH {_upsample_ctes()}
        SELECT doc_id, source, epoch FROM occ
    """


def q_epoch_shards(spark, sf_dir):
    """Training-occurrence materialization, ONE plan: domain_upsample
    emits (doc, epoch) occurrences, each keyed ``doc_id:epoch`` and
    shard-assigned — the (occ_key, shard, pos) table an epoch-aware
    loader consumes. Epochs of one document land in DIFFERENT shards
    (the occurrence key hashes apart), which is the point: repeated
    epochs must not sit adjacent in training order."""
    ups = X.domain_upsample(
        load(spark, sf_dir, "documents"), _UPSAMPLE_FACTORS
    ).withColumn(
        "occ_key",
        F.concat_ws(":", F.col("doc_id"), F.col("epoch")),
    )
    return X.shard_assign(ups, n_shards=8, key_col="occ_key").select(
        "doc_id", "epoch", "shard", "pos"
    )


def _epoch_shards_sql() -> str:
    """epoch_shards oracle: the upsample CTE chain (same generated
    thresholds as _upsample_sql) -> occ_key = doc_id:epoch ->
    shard_assign's md5 bucket + per-shard (h, key) row_number."""
    return f"""
        WITH {_upsample_ctes()},
        k AS (
            SELECT doc_id, epoch,
                   CAST(doc_id AS VARCHAR) || ':'
                       || CAST(epoch AS VARCHAR) AS occ_key
            FROM occ
        ),
        h2 AS (
            SELECT doc_id, epoch, occ_key,
                   md5(occ_key || '#') AS hh
            FROM k
        ),
        b AS (
            SELECT doc_id, epoch, hh, occ_key,
                   CAST(CAST('0x' || substr(hh, 1, 8) AS BIGINT) % 8
                        AS INT) AS shard
            FROM h2
        )
        SELECT doc_id, epoch, shard,
               CAST(row_number() OVER (
                   PARTITION BY shard ORDER BY hh, occ_key) AS INT)
                   AS pos
        FROM b
    """


def q_corpus_stats(spark, sf_dir):
    """One-pass per-domain corpus profiling (the mix sheet read before
    choosing budgets/factors)."""
    return X.corpus_stats(load(spark, sf_dir, "documents"))


def _twinned_docs(spark, sf_dir):
    """Documents plus a case/whitespace-mangled twin (+10^9 ids) of
    every %3 doc — the SoftDeDup fixture of dedup_weights and
    soft_sample."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mangled = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + F.lit(10**9)).alias("doc_id"),
        F.concat(
            F.regexp_replace(F.upper("text"), " ", "  "), F.lit("  ")
        ).alias("text"),
    )
    return docs.unionByName(mangled)


def q_dedup_weights(spark, sf_dir):
    """SoftDeDup weights over a corpus with planted canonical
    duplicates: every %3 doc gets a case/whitespace-mangled twin at
    +10^9 (collision-free at any sf per ADVICE r4) — twins share the
    canonical fingerprint, so both members weigh 0.5."""
    return D.dedup_weights(_twinned_docs(spark, sf_dir))


def q_soft_sample(spark, sf_dir):
    """SoftDeDup end-to-end, ONE plan: duplicate clusters down-weight
    (1/|cluster|) and the Efraimidis-Spirakis race then samples
    proportional to those weights — a duplicated page's members share
    one document's worth of inclusion mass instead of multiplying it.
    Same planted-twin fixture as dedup_weights; global top-100 via the
    TakeOrdered path."""
    wts = D.dedup_weights(_twinned_docs(spark, sf_dir))
    return X.weighted_sample(wts, k=100, weight_col="weight").select(
        "doc_id", "weight", "es_key", "rk"
    )


def q_doc_chunks(spark, sf_dir):
    """Context-window chunking (32-token windows, 8-token overlap):
    strided in-row slices, one chunk for at-or-under-window docs, the
    corpus straddles both branches at ~40 tokens/doc."""
    return X.doc_chunks(
        load(spark, sf_dir, "documents"), chunk_tokens=32, overlap=8
    )


def q_weighted_sample(spark, sf_dir):
    """Quality-proportional weighted sampling: Efraimidis-Spirakis
    race keyed by md5-uniform u, top-10 per source; the oracle
    recomputes ln(u)/w over the same 48-bit u."""
    docs = X.with_quality(load(spark, sf_dir, "documents")).select(
        "doc_id", "source", "quality"
    )
    return X.weighted_sample(
        docs, k=10, weight_col="quality", domain_col="source"
    )


def q_mix_pipeline(spark, sf_dir):
    """Mix-building composition, ONE Catalyst plan: dirty corpus ->
    unicode_clean -> within-domain top-50% quality selection (text
    carried through the narrow window projection) -> exact 400-token
    per-domain budget mix. The chain a curation job actually runs
    before handing shards to a loader. The plan inherits both pruned
    shapes: tiny count/total aggs, broadcast prune joins, and
    fine-grained (source, qv) / (source, bucket) corpus windows —
    several exchanges by design, none of them a corpus-wide sort."""
    dirty = _dirty_docs(spark, sf_dir, keep=("source",))
    clean = X.unicode_clean(dirty).select(
        "doc_id", "source", F.col("text_clean").alias("text")
    )
    kept = X.quality_select(clean, frac=0.5, keep=("text",))
    return X.token_budget_mix(kept, budget_tokens=400)


def q_ngram_topk(spark, sf_dir):
    """Corpus top-100 trigrams (boilerplate discovery): in-row gram
    build, hash-agg, distributed TakeOrdered with deterministic
    (count DESC, gram ASC) boundary."""
    return X.ngram_topk(load(spark, sf_dir, "documents"), n=3, k=100)


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum hash sampling: short docs 20%,
    long docs 60% (training-data curation shape)."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "stratum",
        F.when(F.col("n_chars") < 400, F.lit("short")).otherwise(
            F.lit("long")
        ),
    )
    return X.stratified_sample(
        docs, "stratum", {"short": 0.2, "long": 0.6}
    ).select("doc_id", "stratum")


def q_doc_length_stats(spark, sf_dir):
    """Exact grouped quantiles of document length per language
    (percentile == ANSI percentile_cont == DuckDB quantile_cont)."""
    return R.group_quantiles(
        load(spark, sf_dir, "documents"), "lang", "n_chars"
    )


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary top-100 by occurrence (distributed top-k:
    hash-agg + TakeOrdered, no global sort)."""
    return X.vocab_topk(load(spark, sf_dir, "documents"), k=100)


def q_dedup_keep_best(spark, sf_dir):
    """Keep-best exact dedup, exercised for real: the query unions in a
    whitespace-mangled copy of the first 100 docs (same canonical
    fingerprint, +50 claimed n_chars) so every one of those groups must
    pick the higher-quality duplicate, not the first one."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    dups = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 1000000000).alias("doc_id"),
        F.regexp_replace("text", " ", "  ").alias("text"),
        (F.col("n_chars") + 50).alias("n_chars"),
    )
    return D.dedup_keep_best(docs.unionByName(dups), "n_chars")


def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-10 for a 3-term probe query (sparse retrieval:
    posting-list filter before any agg, broadcast df/corpus stats)."""
    return SR.bm25_topk(
        load(spark, sf_dir, "documents"), ["hash", "join", "merge"], k=10
    )


def q_tfidf_keywords(spark, sf_dir):
    """Per-document top-3 TF-IDF keywords (stopwords excluded;
    vocabulary-keyed hash join + bounded per-doc window)."""
    return SR.tfidf_keywords(load(spark, sf_dir, "documents"), k=3)


def q_domain_mix(spark, sf_dir):
    """Derived-rate domain rebalancing: thin every source toward a
    1000-token budget via the deterministic md5 selector."""
    return X.domain_mix(load(spark, sf_dir, "documents"), 1000.0)


def q_winnow(spark, sf_dir):
    """Winnowing fingerprint selection (MOSS): rightmost-min of every
    4-window of word-4-gram hashes — a deterministic sketch, so exact
    under the DuckDB gate."""
    return SK.winnow_fingerprints(
        load(spark, sf_dir, "documents"), k=4, w=4
    )


def q_winnow_pairs(spark, sf_dir):
    """Near-dup candidate pairs from shared winnowing fingerprints —
    the sketch's intended use, at ~2/(w+1) the posting volume of the
    full shingle index."""
    return SK.winnow_near_dup_pairs(
        load(spark, sf_dir, "documents"), k=4, w=4, min_shared=2
    )


def q_winnow_verified(spark, sf_dir):
    """Winnow candidates verified by exact 3-gram Jaccard (candidates
    only) — the fast verified dedup path; same 0.05 floor as
    ngram_jaccard's oracle."""
    return SK.winnow_verified_pairs(
        load(spark, sf_dir, "documents"),
        k=4, w=4, min_shared=2, threshold=0.05,
    )


def q_bpe_tokenize(spark, sf_dir):
    """Train 30 BPE merges on the corpus (distributed word-count pass +
    vocab-sized driver merge loop) and count tokens per doc under the
    trained tokenizer. Iterative (sequentially-dependent merges) — not
    SQL-expressible, so no DuckDB oracle: the kernel-equality pytest is
    the value check; the driver records rows-only."""
    from ocr_spark.operators import bpe as B

    docs = load(spark, sf_dir, "documents")
    merges = B.train_bpe(docs, n_merges=30)
    return B.bpe_encode_counts(docs, merges)


def q_kmv_distinct(spark, sf_dir):
    """KMV distinct-token sketch per source (k=8): a deterministic
    md5-based cardinality estimator, so the approximate operator sits
    under the exact DuckDB value gate (HLL never could)."""
    return SK.kmv_distinct_tokens(
        load(spark, sf_dir, "documents"), k=8, group_col="source"
    )


def _conv10_turns(spark, sf_dir):
    """(conv_id = doc_id div 10, turn_idx = doc_id % 10, text)."""
    return load(spark, sf_dir, "documents").select(
        F.expr("doc_id div 10").alias("conv_id"),
        (F.col("doc_id") % 10).alias("turn_idx"),
        "text",
    )


def q_conv_dedup(spark, sf_dir):
    """Whole-conversation exact dedup over synthesized transcript
    structure, exercised for real: ws-mangled UPPERCASED copies of the
    first 5 conversations are unioned in (same canonical turn
    sequence), so those groups must collapse onto the original ids."""
    docs = _conv10_turns(spark, sf_dir)
    dups = docs.filter(F.col("conv_id") < 5).select(
        (F.col("conv_id") + 1000000000).alias("conv_id"),
        "turn_idx",
        F.upper(F.regexp_replace("text", " ", "  ")).alias("text"),
    )
    return D.conv_dedup(docs.unionByName(dups))


def q_pack_conversations(spark, sf_dir):
    """Conversation-aware greedy packing over synthesized transcript
    structure (conv_id = doc_id div 10, turn order = doc_id % 10):
    whole turns only, fresh chunk per conversation, exact greedy fill
    at 300 tokens — value-pinned against a recursive-CTE oracle."""
    return X.pack_conversations(_conv10_turns(spark, sf_dir), max_tokens=300)


def _sft_turns(spark, sf_dir):
    """Synthesized transcripts of the SFT keys: conv_id = doc_id div 8,
    turn order = doc_id % 8, alternating user/assistant roles."""
    return load(spark, sf_dir, "documents").select(
        F.expr("doc_id div 8").alias("conv_id"),
        (F.col("doc_id") % 8).alias("turn_idx"),
        F.when(F.col("doc_id") % 2 == 0, "user")
        .otherwise("assistant")
        .alias("role"),
        "text",
    )


def _pack_rendered(ex):
    """Render sft_examples rows as 'context\\n\\ntarget' (nullif skips the
    empty context) under dense ids conv_id*4 + (turn_idx-1) div 2, then
    pack_sequences into 512-token sequences in 8 hash shards."""
    rendered = ex.select(
        F.expr("conv_id * 4 + (turn_idx - 1) div 2").alias("doc_id"),
        F.concat_ws(
            "\n\n", F.expr("nullif(context, '')"), F.col("target")
        ).alias("text"),
    )
    return X.pack_sequences(rendered, seq_len=512, shards=8)


def q_sft_examples(spark, sf_dir):
    """Multi-turn SFT example construction over synthesized transcript
    structure (conv_id = doc_id div 8, turn order = doc_id % 8,
    alternating user/assistant roles): one (context, target) pair per
    assistant turn with a 3-turn rolling context — built by ONE lag
    window, never materializing a conversation."""
    return X.sft_examples(_sft_turns(spark, sf_dir), context_turns=3)


def q_sft_pipeline(spark, sf_dir):
    """The multi-turn SFT data path end to end as ONE declarative
    plan: synthesized transcripts -> sft_examples (3-turn rolling
    contexts; lag window) -> render 'context\\n\\ntarget' (nullif
    skips the empty context so openers don't lead with the separator)
    -> pack_sequences into 512-token sequences in 8 hash shards
    (per-shard window cumsum). Example ids densify to
    conv_id*4 + (turn_idx-1) div 2 so every shard populates."""
    ex = X.sft_examples(_sft_turns(spark, sf_dir), context_turns=3)
    return _pack_rendered(ex)


def q_quality_ensemble(spark, sf_dir):
    """FineWeb-style ensemble quality gate as ONE plan: Gopher A1
    signals + the length/alpha/stopword quality score (both pure maps
    chained on one scan — no self-join) and the OOV rate (agg +
    broadcast-vocab join) combine into a single keep flag. Every
    compared value is round-4 on both engines, so the AND of
    thresholds is engine-exact."""
    docs = load(spark, sf_dir, "documents")
    gq = X.with_quality(
        X.with_gopher_rules(docs, min_words=20)
    ).select("doc_id", "gopher_pass", "quality")
    ov = X.oov_rate(docs, vocab_size=16).select("doc_id", "oov_rate")
    return gq.join(ov, "doc_id").select(
        "doc_id",
        "gopher_pass",
        "quality",
        "oov_rate",
        (
            F.col("gopher_pass")
            & (F.col("quality") >= 0.6)
            & (F.col("oov_rate") <= 0.45)
        ).alias("keep"),
    )


def q_sft_spans(spark, sf_dir):
    """Loss-mask spans for the packed SFT examples: where each
    example's TARGET tokens land in the shard's flat token stream —
    the mask a multi-turn SFT trainer applies. Same synthesized
    transcripts / dense example ids as sft_pipeline."""
    ex = X.sft_examples(_sft_turns(spark, sf_dir), context_turns=3).select(
        F.expr("conv_id * 4 + (turn_idx - 1) div 2").alias("doc_id"),
        "context",
        "target",
    )
    return X.sft_spans(ex, seq_len=512, shards=8)


def q_ccnet_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing via textops.ccnet_buckets in
    EXACT threshold mode — the only place exact mode is used: Spark's
    exact ``percentile`` == DuckDB quantile_cont makes the two
    threshold constants oracle-equal. Production default is the
    t-digest ``approx_percentile`` path (bounded memory at 10^9 docs);
    its agreement with exact mode is pinned by pytest, and a plan test
    asserts the approx path contains no full-corpus value buffer."""
    return X.ccnet_buckets(load(spark, sf_dir, "documents"), exact=True)


def q_dsir_select(spark, sf_dir):
    """DSIR data selection (Xie et al. '23): top-100 raw docs by
    importance log-weight + deterministic Gumbel noise, target domain
    = every 7th document."""
    docs = load(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    return X.dsir_sample(docs, target, k=100)


def q_nb_quality(spark, sf_dir):
    """Naive Bayes quality classifier exercised for real: positives =
    docs with doc_id % 5 == 1 (clean), negatives = docs with
    doc_id % 5 == 2 turned into deterministic md5-token gibberish
    (per-token substring(md5(tok),1,6) — identical expression in the
    oracle), scored corpus = every doc plus gibberishized copies of
    the first 50 (+10^9 ids), which the classifier must push toward
    pred_clean = false."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def gib():
        return F.array_join(
            F.transform(
                F.filter(
                    F.split(F.trim("text"), r"\s+"), lambda x: x != ""
                ),
                lambda x: F.substring(F.md5(x), 1, 6),
            ),
            " ",
        )

    pos = docs.filter(F.col("doc_id") % 5 == 1)
    neg = docs.filter(F.col("doc_id") % 5 == 2).select(
        "doc_id", gib().alias("text")
    )
    scored = docs.unionByName(
        docs.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 1000000000).alias("doc_id"),
            gib().alias("text"),
        )
    )
    return X.nb_quality(scored, pos, neg)


def q_unigram_logprob(spark, sf_dir):
    """Per-doc average unigram log-probability under the corpus's own
    unigram LM — the offline stand-in for CCNet's perplexity filter."""
    return X.unigram_logprob(load(spark, sf_dir, "documents"))


def q_url_category(spark, sf_dir):
    """UT1-style category tagging over synthesized URLs with planted
    category segments (%7 casino, %11 xxx; first-match-wins order is
    part of the contract — %77 docs carry both and tag 'adult'). The
    oracle recomputes the canonical form arithmetically, so a
    canonicalization drift (e.g. unstripped www) would hash-mismatch."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    seg = (
        F.when(d % 77 == 0, F.lit("casino-xxx"))
        .when(d % 7 == 0, F.lit("casino"))
        .when(d % 11 == 0, F.lit("xxx-zone"))
        .otherwise(F.lit("news"))
    )
    url = F.concat(
        F.lit("https://www.site"),
        (d % 10).cast("string"),
        F.lit(".example.com/"),
        seg,
        F.lit("/page?x=1"),
    )
    return U.url_category(
        docs.withColumn("url", url),
        {"adult": "xxx", "gambling": "casino|poker"},
    ).select("doc_id", "canonical_url", "url_category", "url_blocked")


def q_url_decontaminate(spark, sf_dir):
    """URL-level decontamination: the train corpus carries raw variant
    URLs (scheme case, www, :80, utm tracking) while the eval set
    (%13 docs) carries the clean variant of the SAME page — only
    canonical-level matching removes them. Survivors = %13 != 0."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    train = docs.withColumn(
        "url",
        F.concat(
            F.lit("HTTP://www.s"),
            (d % 20).cast("string"),
            F.lit(".example.org:80/a"),
            d.cast("string"),
            F.lit("?utm_source=f&q="),
            (d % 5).cast("string"),
        ),
    )
    ev = docs.filter(d % 13 == 0).withColumn(
        "url",
        F.concat(
            F.lit("https://s"),
            (d % 20).cast("string"),
            F.lit(".example.org/a"),
            d.cast("string"),
            F.lit("?q="),
            (d % 5).cast("string"),
        ),
    )
    return U.url_decontaminate(train, ev).select(
        "doc_id", "canonical_url"
    )


def q_url_curation(spark, sf_dir):
    """URL-level curation over a deterministically synthesized url
    column (doc_id div/mod arithmetic — identical expression in the
    oracle): canonicalize (scheme/www/:443/fragment/trailing-slash
    stripped, utm params dropped, params sorted), group duplicates by
    canonical key (min-id survivor), flag blocklisted domains with
    suffix semantics. Raw variants that must merge are generated ON
    PURPOSE: the same content key appears under differing scheme case,
    www prefix, port, param order, tracking params, and fragments."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    g = F.col("doc_id") % 30
    v = F.expr("doc_id div 30")
    url = F.concat(
        F.element_at(
            F.array(
                F.lit("http://"), F.lit("https://"), F.lit("HTTPS://")
            ),
            (v % 3 + 1).cast("int"),
        ),
        F.when(v % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("site"),
        (g % 10).cast("string"),
        F.lit(".example"),
        (g % 2).cast("string"),
        F.lit(".com"),
        F.when(v % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p"),
        (g % 3).cast("string"),
        F.when(v % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            v % 2 == 0,
            F.concat(
                F.lit("?a="),
                (g % 5).cast("string"),
                F.lit("&b="),
                (g % 3).cast("string"),
            ),
        ).otherwise(
            F.concat(
                F.lit("?b="),
                (g % 3).cast("string"),
                F.lit("&a="),
                (g % 5).cast("string"),
                F.lit("&utm_source=feed"),
            )
        ),
        F.when(v % 3 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    flagged = U.domain_filter(
        docs.withColumn("url", url), ["example0.com"]
    )
    return flagged.groupBy("canonical_url", "host", "blocked").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def q_bigram_logprob(spark, sf_dir):
    """Per-doc average interpolated bigram log-probability (lam=0.7
    Jelinek-Mercer with unigram backoff) under the corpus's own bigram
    LM — one Markov order above unigram_logprob."""
    return X.bigram_logprob(load(spark, sf_dir, "documents"))


def q_js_divergence(spark, sf_dir):
    """Jensen-Shannon divergence between the src0 and src1 unigram
    distributions — the corpus-comparison statistic, one token-stream
    pass (conditional counts, never per-group tables joined)."""
    return X.js_divergence(
        load(spark, sf_dir, "documents"), "src0", "src1"
    )


def q_oov_rate(spark, sf_dir):
    """Per-doc OOV rate vs the corpus's own top-16 vocabulary
    (count desc, term asc boundary) — tokenizer-fit signal. V=16 cuts
    INSIDE the synthetic corpus's 31-token vocabulary so rates land
    mid-range and both count branches + the boundary tie-break are
    exercised (V=100 would cover the whole vocab: all-zero rates, a
    degenerate check)."""
    return X.oov_rate(load(spark, sf_dir, "documents"), vocab_size=16)


def q_kn_logprob(spark, sf_dir):
    """Per-doc interpolated Kneser-Ney bigram log-probability (D=0.75
    absolute discount, continuation-probability backoff) — the
    KenLM/CCNet perplexity-filter smoothing family, checked exactly:
    every count in the formula is SQL aggregation."""
    return X.kn_logprob(load(spark, sf_dir, "documents"))


def q_pmi_bigrams(spark, sf_dir):
    """Top-50 bigram collocations by PMI (min count 5) — the
    vocabulary/tokenizer-building statistic."""
    return X.pmi_bigrams(
        load(spark, sf_dir, "documents"), min_count=5, k=50
    )


def _emb_queries(spark, sf_dir):
    """(embeddings, queries): the ANN keys' probe set is vec_id < 10."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return emb, queries


def q_ann_ivf(spark, sf_dir):
    """IVF ANN: sampled coarse quantizer (32 lists), probe 4, exact
    re-score top-5 — the second ANN scale path beside ann_lsh."""
    emb, queries = _emb_queries(spark, sf_dir)
    return S.ivf_topk(emb, queries, k=5, n_centroids=32, n_probe=4)


def q_cosine_topk(spark, sf_dir):
    emb, queries = _emb_queries(spark, sf_dir)
    return S.cosine_topk(emb, queries, k=5)


def q_ann_lsh(spark, sf_dir):
    emb, queries = _emb_queries(spark, sf_dir)
    return S.lsh_cosine_topk(emb, queries, k=5, dims=8)


def q_cosine_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (LSH-pruned). The synthetic
    embeddings are random (max pairwise cos ~0.43), so the threshold is
    set low to exercise the operator; real corpora use 0.9+."""
    return S.cosine_near_dup_pairs(
        load(spark, sf_dir, "embeddings"), threshold=0.3, dims=8
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup chain: embeddings → LSH-pruned cosine near-dup pairs →
    greedy keep-min-id → anti-join survivors back onto documents
    (vec_id ↔ doc_id). Same low threshold as cosine_near_dup (the
    synthetic embeddings are random; real corpora use 0.9+)."""
    return S.semantic_dedup(
        load(spark, sf_dir, "documents"),
        load(spark, sf_dir, "embeddings"),
        threshold=0.3,
        dims=8,
    ).select("doc_id", "source", "n_chars")


def q_kmeans_clusters(spark, sf_dir):
    """Distributed k-means (2 Lloyd iterations, deterministic lowest-id
    seeds, rounded fixed points) — final (vec_id, cid, cos) assignment.
    The oracle unrolls the same two iterations as SQL CTEs."""
    return CL.kmeans_assign(
        load(spark, sf_dir, "embeddings"), k=8, iters=2, vec_dims=64
    )


def q_semantic_dedup_kmeans(spark, sf_dir):
    """SemDeDup as published: k-means clusters bound the pair space,
    within-cluster cosine >= threshold drops the larger id. Same low
    threshold as the LSH variant (synthetic embeddings are random)."""
    return CL.semantic_dedup_kmeans(
        load(spark, sf_dir, "documents"),
        load(spark, sf_dir, "embeddings"),
        k=8,
        iters=2,
        threshold=0.3,
        vec_dims=64,
    ).select("doc_id", "source", "n_chars")


def q_d4_select(spark, sf_dir):
    """D4 (SemDeDup + SSL-prototype pruning over the shared k-means
    fit): drop within-cluster near-dups, then the 20% most-prototypical
    survivors per cluster. The oracle unrolls the same Lloyd iterations
    and mirrors the rank/floor cut exactly."""
    return CL.d4_select(
        load(spark, sf_dir, "documents"),
        load(spark, sf_dir, "embeddings"),
        k=8,
        iters=2,
        threshold=0.3,
        prune_frac=0.2,
        vec_dims=64,
    ).select("doc_id", "source", "n_chars")


def q_pq_encode(spark, sf_dir):
    """Product quantization (Jegou '11): m=4 subspaces x 16-entry
    codebooks, one rounded Lloyd refinement pass per subspace, codes in
    (vec_id, sub, code) long form. The encode is a pure map (codebooks
    are driver literals); the oracle unrolls the same training passes
    as SQL CTEs (``_pq_ctes``), mirroring the kmeans discipline."""
    return PQ.pq_encode(
        load(spark, sf_dir, "embeddings"), m=4, ksub=16, iters=1,
        vec_dims=64,
    )


def q_ann_pq(spark, sf_dir):
    """PQ/ADC ANN with the production refine chain: LUT-summed inner
    product over each vector's m=4 codes shortlists the ADC top-100
    per query, the shortlist (broadcast — the corpus never shuffles)
    is re-scored at full width by exact cosine, top-5 returned with
    the cosine_topk tie-break (score desc, vec_id asc)."""
    emb, qs = _emb_queries(spark, sf_dir)
    return PQ.pq_ann_topk(
        emb, qs, k=5, m=4, ksub=16, iters=1, vec_dims=64, refine=100
    )


def q_ann_ivf_pq(spark, sf_dir):
    """IVF+PQ composed ANN (the FAISS IVFADC shape): 32 coarse lists
    bound WHICH vectors each query scans (probe 4), globally-trained
    m=4/ksub=16 PQ codes compress WHAT the scan reads (ADC LUT
    scoring), and the ADC top-50 shortlist re-ranks at full width by
    exact cosine for the final top-5. The oracle composes the
    ``ann_ivf`` assignment/probe CTEs with the ``ann_pq`` training +
    ADC-term CTEs over the candidate-restricted pair set."""
    emb, qs = _emb_queries(spark, sf_dir)
    return PQ.ivf_pq_topk(
        emb, qs, k=5, n_centroids=32, n_probe=4, m=4, ksub=16,
        iters=1, refine=50,
    )


def q_group_topk(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").desc(),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
    )
    return (
        li.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "l_returnflag", "l_orderkey", "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"), "rank",
        )
    )


def q_revenue_by_nation(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _docs_as_transcripts(spark, sf_dir, tool):
    """One single-turn transcript per document (conv_id 'd<doc_id>'):
    the html route wraps the text in _HTML_PRE/_HTML_POST, the pdf
    route turns it into a one-line layout dump (a single full-width
    line at y=700), the plain route (tool NULL) keeps it as is."""
    text = {
        "html": F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST)),
        "pdf": F.concat(
            F.lit("L 1 72.0 700.0 500.0 712.0 "),
            F.regexp_replace(F.trim("text"), r"\s+", " "),
        ),
    }.get(tool, F.col("text"))
    return load(spark, sf_dir, "documents").select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        text.alias("text"),
        (F.lit(tool) if tool else F.lit(None).cast("string")).alias("tool"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
    )


def _extracted(t, *cols):
    """The REAL pandas-UDF extraction of ``t``, keyed back to doc_id
    (conv_id is 'd<doc_id>'), with its text and ``cols``."""
    from ocr_spark.extract import extract

    return extract(t).select(
        F.expr("CAST(substring(conv_id, 2) AS BIGINT)").alias("doc_id"),
        F.col("text"),
        *cols,
    )


def q_extract_plain_route(spark, sf_dir):
    """The REAL pandas-UDF pipeline over the plain route: output text
    must equal the ws-collapsed input (SQL-expressible golden)."""
    return _extracted(_docs_as_transcripts(spark, sf_dir, None), "error")


def q_extract_html_route(spark, sf_dir):
    """The REAL pandas-UDF pipeline over the html route: boilerplate
    (nav/footer) must be stripped, leaving exactly the article text."""
    return _extracted(_docs_as_transcripts(spark, sf_dir, "html"), "error")


def q_extract_then_curate(spark, sf_dir):
    """The engine's two halves composed — the REAL pandas-UDF
    extraction (html boilerplate strip), materialized once (r6
    checkpoint), feeds the curation operators —
    token count + quality score on the EXTRACTED text, then exact-dedup
    survivors. The quality denominator uses the extracted (ws-collapsed)
    length, so the oracle must apply the same collapse — the composition
    is exercised, not just concatenated."""
    ext = _extracted(_docs_as_transcripts(spark, sf_dir, "html"))
    # r6: checkpoint the extracted+scored relation — its two consumers
    # (the dedup agg and the survivor semi-join) each re-ran the whole
    # pandas-UDF extraction (mapInPandas subtrees cannot be reused
    # across branches; measured 12.3s -> 7.5s at sf1.0). Extract-once-
    # then-curate is also what the real pipeline does with its
    # warehouse write.
    scored = X.with_quality(X.with_token_count(ext)).localCheckpoint()
    keep = D.exact_dedup(scored).select(F.col("keep_id").alias("doc_id"))
    return scored.join(keep, "doc_id", "left_semi").select(
        "doc_id", "n_tokens", "quality"
    )


def q_extract_pdf_route(spark, sf_dir):
    """The pdf route (reading-order reconstruction) on synthetic layout
    dumps derived from documents: with one full-width line per doc the
    reconstruction must return exactly the ws-collapsed text, which IS
    SQL-expressible (multi-column reading order is covered by pytest
    kernel tests instead)."""
    return _extracted(_docs_as_transcripts(spark, sf_dir, "pdf"), "error")


def _media_docs(spark, sf_dir):
    """(media_id, text): documents keyed as the multimodal fixture."""
    return load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), "text"
    )


def q_media_decode(spark, sf_dir):
    """Multimodal: binary payload -> typed metadata via mapInPandas; the
    fake header encodes dims as functions of byte length, so DuckDB can
    oracle-check the decode from the source text."""
    from ocr_spark.operators import multimodal as M

    media = M.encode_fake_media(_media_docs(spark, sf_dir), "text")
    return M.decode_media(media).select(
        F.col("media_id").alias("doc_id"), "n_bytes", "width", "height"
    )


def q_media_frames(spark, sf_dir):
    """Multimodal: bounded frame sampling (one row fans out to N)."""
    from ocr_spark.operators import multimodal as M

    media = M.encode_fake_media(_media_docs(spark, sf_dir), "text")
    return M.sample_frames(media, frame_bytes=64).select(
        F.col("media_id").alias("doc_id"), "frame_idx", "frame_len"
    )


def q_media_features(spark, sf_dir):
    """Multimodal: deterministic feature vectors, projected to scalar
    columns f0..f7 (driver-canonicalizable; the raw ``array<float>``
    column is unhashable on the driver side). The oracle recomputes the
    byte-stripe means in SQL from hex(encode(text))."""
    from ocr_spark.operators import multimodal as M

    media = M.encode_fake_media(_media_docs(spark, sf_dir), "text")
    feats = M.extract_features(media, dims=8)
    return feats.select(
        F.col("media_id").alias("doc_id"),
        *[F.element_at("feature", d + 1).alias(f"f{d}") for d in range(8)],
    )


def q_media_near_dup(spark, sf_dir):
    """Multimodal chained into ANN end-to-end: decode-stage feature
    vectors (``extract_features``) become a first-class similarity
    input to ``lsh_cosine_topk`` — media near-dup by content. Byte-
    stripe features live in [0, 1), so they are centered at 0.5 before
    sign-LSH bucketing (all-positive vectors would collapse into one
    bucket — the degenerate case ``cosine_near_dup_pairs`` documents)."""
    from ocr_spark.operators import multimodal as M

    docs = _media_docs(spark, sf_dir)

    def emb_of(d):
        feats = M.extract_features(M.encode_fake_media(d, "text"), dims=8)
        return feats.select(
            F.col("media_id").alias("vec_id"),
            F.expr(
                "transform(feature, x -> CAST(x AS DOUBLE) - 0.5)"
            ).alias("embedding"),
        )

    # the query side re-encodes from a PRE-FILTERED doc set: a filter on
    # the output id cannot push through mapInPandas (it's an analysis
    # barrier), so filtering first keeps the small side small instead of
    # decoding the full corpus twice
    emb = emb_of(docs)
    queries = emb_of(docs.filter(F.col("media_id") < 10)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return S.lsh_cosine_topk(emb, queries, k=5, dims=8, vec_dims=8)


def q_dedup_turns(spark, sf_dir):
    """O2 dropDuplicates on the natural key, over a table with injected
    duplicates (union with itself)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.unionByName(docs.limit(100))
    return R.dedup_turns(
        dup.withColumnRenamed("doc_id", "conv_id").withColumn(
            "turn_idx", F.lit(0)
        )
    ).select(F.col("conv_id").alias("doc_id"))


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

def q_embedding_outliers(spark, sf_dir):
    """Per-label centroid-cosine outlier QA: bottom 20% per label
    flagged, all rows kept. round-6 centroid / round-4 cosine fixed
    points (kmeans contract); count-table rank, no corpus window."""
    return CL.embedding_outliers(
        load(spark, sf_dir, "embeddings"), frac=0.2
    )


def q_corpus_diff(spark, sf_dir):
    """Snapshot diff: the new corpus version drops doc_id%10==0
    (removed), mutates doc_id%7==0 text (changed), and adds +10^9-
    offset copies of doc_id%5==0 (added; the collision-free offset
    convention) — every status branch exercised on real rows."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" v2")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(10**9)).alias("doc_id"), "text"
    )
    return R.corpus_diff(docs, base.unionByName(added))


def q_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: RRF fusion of two BM25 probe rankings (probes
    share 'merge', so overlapping docs exercise the multi-list sum)
    and one dense cosine ranking (vec_id read as doc_id — the fixture's
    join convention). Rank INTEGERS cross the fusion boundary, never
    raw float scores."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    # ONE corpus pass for both sparse probes (bm25_topk_multi shares
    # toks/dl/stats/tf); the 2k-row result checkpoint makes the two
    # per-probe filter branches free
    multi = SR.bm25_topk_multi(
        docs,
        {"a": ["hash", "join", "merge"], "b": ["merge", "sort", "scan"]},
        k=30,
    ).localCheckpoint(eager=True)
    bm_a = multi.filter(F.col("q_key") == "a").select("doc_id", "rank")
    bm_b = multi.filter(F.col("q_key") == "b").select("doc_id", "rank")
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    dense = S.cosine_topk(emb, q0, k=30).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    return SR.rrf_fuse([bm_a, bm_b, dense], k0=60, k=10)


def q_cms_topk(spark, sf_dir):
    """Count-min-sketch heavy hitters: depth 3 x width 8 (width cut
    BELOW the synthetic corpus's vocabulary size so bucket collisions
    actually occur — est > n_exact on real rows, not a vacuously
    collision-free pass), top-20 terms by estimate. Deterministic md5
    hash family -> the approximate sketch passes the exact gate (the
    kmv_distinct convention)."""
    return SK.cms_heavy_hitters(
        load(spark, sf_dir, "documents"), depth=3, width=8, k=20
    )


def q_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency OLS over the top-100 token ranks — the
    one-row corpus-health statistic (slope ~ -1 on natural language).
    float32-cast outputs (cross-engine contract)."""
    return X.zipf_fit(load(spark, sf_dir, "documents"), top_r=100)


def _host_edges(docs, *cols):
    """The synthetic host graph (src = doc_id % 32, dst = (doc_id*7+3)
    % 40) of the graph keys, plus ``cols``."""
    return docs.select(
        (F.col("doc_id") % 32).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 40).alias("dst"),
        *cols,
    )


def q_pagerank(spark, sf_dir):
    """PageRank over a deterministic synthetic host graph (src =
    doc_id % 32, dst = (doc_id*7+3) % 40 — nodes 32..39 appear only as
    destinations, so the dangling-mass branch is exercised, and the
    doc_id collapse yields multi-edges so the distinct policy is too).
    3 power iterations, damping 0.85, float32 fixed points per
    iteration (cross-engine contract). The link-quality prior of
    Common-Crawl-style web curation."""
    edges = _host_edges(load(spark, sf_dir, "documents"))
    return G.pagerank(edges, damping=0.85, iters=3)


def q_score_normalize(spark, sf_dir):
    """Per-domain percent-rank calibration of an integer score
    (n_chars — already a level grid, zero float risk): pure level-
    table shape, corpus never windows. float32 pct output."""
    docs = load(spark, sf_dir, "documents")
    return X.score_normalize(
        docs, score_col="n_chars", domain_col="source"
    )


def q_link_curation(spark, sf_dir):
    """Flagship graph composition: PageRank over the synthetic host
    graph (q_pagerank's fixture) -> keep documents whose OWN host
    (doc_id % 32) ranks in the top 25% of nodes — the Common-Crawl-
    style link-quality prior applied as a curation gate, ONE plan end
    to end. The rank/count windows run over the NODE-sized rank table
    (bounded by design), and the kept-host table broadcasts into the
    corpus join; dangling dst-only hosts can out-rank doc hosts (rank
    sinks) — deterministic on both engines either way."""
    docs = load(spark, sf_dir, "documents")
    ranks = G.pagerank(_host_edges(docs), damping=0.85, iters=3)
    w = Window.orderBy(F.col("rank").desc(), F.col("node").asc())
    w_all = Window.partitionBy(F.lit(1))
    kept = (
        ranks.select(
            "node",
            "rank",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(w_all).alias("nn"),
        )
        .filter(
            F.col("rk")
            <= F.ceil(F.lit(0.25) * F.col("nn").cast("double"))
        )
        .select(
            F.col("node").alias("host"),
            F.col("rank").alias("host_rank"),
        )
    )
    return docs.select(
        "doc_id", (F.col("doc_id") % 32).alias("host")
    ).join(F.broadcast(kept), "host").select(
        "doc_id", "host", "host_rank"
    )


def _transcripts(docs: DataFrame) -> DataFrame:
    """Shared transcript fixture for the conversation-structure keys:
    conv_id = doc_id div 8, turn order = doc_id % 8, alternating
    user/assistant roles with PLANTED structure faults — the role
    flips wherever doc_id % 23 == 0 (creating alternation violations,
    and wrong openers when the flip lands on turn 0) and the text
    empties wherever doc_id % 31 == 0 — so every conv_stats counter
    and every conv_filter rejection branch is exercised on real rows.
    Mirrored verbatim by the ``turns`` CTE in the oracles."""
    return docs.select(
        F.expr("doc_id div 8").alias("conv_id"),
        (F.col("doc_id") % 8).alias("turn_idx"),
        F.when(
            (F.col("doc_id") % 2 == 0) != (F.col("doc_id") % 23 == 0),
            "user",
        )
        .otherwise("assistant")
        .alias("role"),
        F.when(F.col("doc_id") % 31 == 0, "")
        .otherwise(F.col("text"))
        .alias("text"),
    )


def q_conv_stats(spark, sf_dir):
    """Per-conversation structural QA over the fault-planted transcript
    fixture: turn/role counts, opener role, alternation violations,
    empty turns, char totals — one conv-partitioned window pass + one
    hash-agg, integer/string outputs only (zero float risk)."""
    return CV.conv_stats(_transcripts(load(spark, sf_dir, "documents")))


def q_conv_filter(spark, sf_dir):
    """Structural conversation gate over the same fixture: keep only
    convs that open with the user, alternate cleanly, have no empty
    turns and 2..64 turns — returns the surviving TURN rows (the
    planted faults guarantee both kept and dropped convs exist)."""
    return CV.conv_filter(
        _transcripts(load(spark, sf_dir, "documents")),
        min_turns=2,
        max_turns=64,
    )


def q_sft_curation(spark, sf_dir):
    """The transcripts-axis flagship, ONE plan end to end: fault-
    planted transcripts -> conv_filter structural gate -> sft_examples
    (3-turn rolling contexts) -> render -> pack_sequences into
    512-token sequences in 8 hash shards. Within kept conversations
    roles provably alternate user-first, so assistant targets sit at
    odd turn_idx and the conv_id*4 + (turn_idx-1) div 2 example-id
    densification of sft_pipeline carries over unchanged."""
    turns = _transcripts(load(spark, sf_dir, "documents"))
    kept = CV.conv_filter(turns, min_turns=2, max_turns=64).drop(
        "n_turns"
    )
    return _pack_rendered(X.sft_examples(kept, context_turns=3))


def q_hits(spark, sf_dir):
    """HITS hubs & authorities over the pagerank synthetic host graph
    (same fixture: dst-only nodes 32..39 are pure authorities, so the
    hub-0 branch is exercised), 3 iterations, L1 norms, float32 fixed
    points per normalization — the oracle unrolls the same iterations
    as CTEs."""
    return G.hits(_host_edges(load(spark, sf_dir, "documents")), iters=3)


def q_length_buckets(spark, sf_dir):
    """Power-of-two token-length histogram — the batching-prep mix
    sheet. Bucket = bit length of n_tokens (exact at power-of-two
    boundaries where floor(log2) is not); integer-only output."""
    return X.length_histogram(load(spark, sf_dir, "documents"))


def q_tokenizer_fit(spark, sf_dir):
    """Per-domain tokenizer fertility / compression sheet: BPE-ish
    pre-tokens per whitespace word and chars per token — float32 casts
    of exact-BIGINT divisions (bit-equal cross-engine)."""
    return X.tokenizer_fit(load(spark, sf_dir, "documents"))


def q_distinct_ngrams(spark, sf_dir):
    """Per-domain lexical diversity (distinct-n / type-token ratios at
    unigram + bigram level) — exact distinct counts, float32 ratio
    casts; the bigram stream definition is the shared
    _bigram_stream/pmi one."""
    return X.distinct_ngrams(load(spark, sf_dir, "documents"))


def q_cluster_stats(spark, sf_dir):
    """Per-cluster cohesion sheet over the SHARED k-means fit (k=8,
    2 Lloyd iterations — same fixed points as kmeans_clusters, so the
    oracle reuses the unrolled CTEs): member counts, min/avg/max
    round-4 cosine to the final centroid, lowest-id exemplar."""
    return CL.cluster_stats(
        load(spark, sf_dir, "embeddings"), k=8, iters=2, vec_dims=64
    )


def q_template_families(spark, sf_dir):
    """Templated-text family detection: md5 of the first-8-token
    lowercased prefix; the driver query unions a remixed copy of every
    document (doc_id + 10^9, original prefix + a synthetic tail) so
    every document lands in a >= 2-member family and the min_df gate
    actually drops the tail-only singletons."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    remix = docs.select(
        (F.col("doc_id") + F.lit(1000000000)).alias("doc_id"),
        F.concat_ws(
            " ",
            F.array_join(F.slice(F.expr(X.TOKENS_LC), 1, 8), " "),
            F.lit("synthetictail"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return D.template_families(
        docs.unionByName(remix), k=8, min_df=2
    )


def _responses(docs: DataFrame, per_prompt: int, dup_texts: int | None):
    """Shared scored-response fixture for the preference keys:
    prompt_id = doc_id div per_prompt, integer reward in [0, 100) from
    doc_id arithmetic. With ``dup_texts``, response text is drawn from
    a dup_texts-sized pool ('ans 0'..'ans N-1') so byte-identical
    responses exist WITHIN each prompt (exercising rft_select's
    fingerprint dedup); without, the raw document text rides along.
    Mirrored verbatim by the ``resp`` CTE in the oracles."""
    if dup_texts is not None:
        text = F.concat(
            F.lit("ans "), (F.col("doc_id") % dup_texts).cast("string")
        )
        score = (F.col("doc_id") * 53) % 100
    else:
        text = F.col("text")
        # quadratic-residue scores: linear formulas give structurally
        # wide within-prompt spreads and the min_gap branch NEVER
        # fires (the soak_pref lesson; ~8% of prompts drop with %97)
        score = (F.col("doc_id") * F.col("doc_id")) % 97
    return docs.select(
        F.expr(f"doc_id div {per_prompt}").alias("prompt_id"),
        F.col("doc_id").alias("resp_id"),
        text.alias("text"),
        score.alias("score"),
    )


def q_dpo_pairs(spark, sf_dir):
    """DPO preference-pair construction over the scored-response
    fixture (4 responses/prompt, integer rewards): chosen = argmax,
    rejected = argmin, prompts with reward spread < 10 dropped — ONE
    lexicographic-struct hash-agg, never a response self-join."""
    return PF.dpo_pairs(
        _responses(load(spark, sf_dir, "documents"), 4, None),
        min_gap=10,
    )


def q_rft_select(spark, sf_dir):
    """Rejection-sampling (best-of-N) selection: 8 responses/prompt
    drawn from a 4-text pool so every prompt holds byte-identical
    duplicates — fingerprint dedup keeps the best-rated copy, then
    reward >= 50 gates and the per-prompt top-2 survive
    (WindowGroupLimit shape)."""
    return PF.rft_select(
        _responses(load(spark, sf_dir, "documents"), 8, 4),
        tau=50,
        k=2,
    )


def q_temperature_sample(spark, sf_dir):
    """Temperature-based rebalancing (XLM-R alpha = 0.5 as exact
    integer isqrt weights) over a skewed 60/20/10/10 language split:
    low-resource groups keep a larger budget share than their corpus
    share; rate thresholds and targets all BIGINT arithmetic."""
    table = load(spark, sf_dir, "documents")
    docs = table.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 6, "en")
        .when(F.col("doc_id") % 10 < 8, "fr")
        .when(F.col("doc_id") % 10 < 9, "de")
        .otherwise("yo")
        .alias("lang"),
    )
    # budget scales with the corpus (half of it) so per-group targets
    # land MID-RANGE at every sf — a fixed budget >= any group share
    # degenerates the op to identity and the gate would never
    # exercise the selector (review finding, ninth session)
    budget = max(8, table.count() // 2)
    return X.temperature_sample(
        docs, budget=budget, domain_col="lang", key_col="doc_id"
    )


def q_doremi_weights(spark, sf_dir):
    """DoReMi-lite domain reweighting sheet over the real source
    column: per-domain excess of the integer char-count score vs the
    corpus mean, exponentiated into float32 sampling weights."""
    return X.doremi_weights(
        load(spark, sf_dir, "documents"), domain_col="source"
    )


def q_code_quality(spark, sf_dir):
    """StarCoder-style structural code filters over a line-structured
    fixture (' the ' -> newline; every 13th doc gains a 4000-char
    zero blob that fails the alpha-fraction, max-line and avg-line
    rules at once) — pass flags are exact integer predicates."""
    docs = load(spark, sf_dir, "documents")
    lined = F.replace(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" the "),
        F.lit("\n"),
    )
    fixed = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(lined, F.expr("repeat('0', 4000)")),
        )
        .otherwise(lined)
        .alias("text"),
    )
    return X.code_quality(fixed)


def q_license_tag(spark, sf_dir):
    """First-match-wins license classification: the fixture appends a
    marker phrase per doc_id % 11 class (one class carries BOTH an MIT
    and an all-rights-reserved marker, pinning marker-table order
    precedence; two classes stay unmarked -> 'unknown')."""
    docs = load(spark, sf_dir, "documents")
    m = F.col("doc_id") % 11
    marker = (
        F.when(m == 0, " Licensed under the Apache License 2.0.")
        .when(m == 1, " Released under the MIT License.")
        .when(m == 2, " Distributed under the BSD License.")
        .when(m == 3, " Subject to the Mozilla Public License.")
        .when(m == 4, " GNU General Public License v3 applies.")
        .when(m == 5, " GNU Lesser General Public License v2.1.")
        .when(m == 6, " Creative Commons Attribution 4.0.")
        .when(m == 7, " All Rights Reserved.")
        .when(m == 8, " MIT License. All Rights Reserved.")
        .otherwise("")
    )
    fixed = docs.select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")), marker).alias(
            "text"
        ),
    )
    return X.license_tag(fixed)


def q_anchor_topk(spark, sf_dir):
    """Anchor-text aggregation over the pagerank fixture graph plus a
    synthetic anchor pool: anchor 'a0' takes every doc_id % 3 == 0
    edge (skewing the counts) while the rest spread uniformly, so both
    the count ordering and the lexicographic tie-break are exercised
    in every dst partition."""
    edges = _host_edges(
        load(spark, sf_dir, "documents"),
        F.concat(
            F.lit("a"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(0))
            .otherwise(F.expr("(doc_id div 40) % 5"))
            .cast("string"),
        ).alias("anchor"),
    )
    return G.anchor_topk(edges, k=3)


def q_span_corruption(spark, sf_dir):
    """T5 span-corruption geometry sheet (15% density, mean span 3)
    over the raw corpus: per-doc masked-token / span / sentinel counts
    and the resulting encoder+target lengths — all integer md5-derived
    masking, pure map."""
    return X.span_corruption(load(spark, sf_dir, "documents"))


def q_extractive_coverage(spark, sf_dir):
    """Extractiveness sheet over synthesized (context, target) pairs:
    target = first-6-token extract plus one novel token, so unigram /
    bigram coverages land mid-range; every 29th target is empty and
    must be dropped."""
    docs = load(spark, sf_dir, "documents")
    target = F.when(F.col("doc_id") % 29 == 0, F.lit("")).otherwise(
        F.concat(
            F.array_join(F.slice(F.expr(X.TOKENS_LC), 1, 6), " "),
            F.lit(" qq"),
            (F.col("doc_id") % 5).cast("string"),
        )
    )
    pairs = docs.select(
        F.col("doc_id").alias("pair_id"),
        F.col("text").alias("context"),
        target.alias("target"),
    )
    return X.extractive_coverage(pairs)


def q_edit_dedup(spark, sf_dir):
    """Edit-distance near-exact pairs with template-family blocking:
    the fixture unions a +3-edit remix (kept, dist 3) and a long-tail
    remix (same family, distance above the cap, excluded) of every
    document — both duplicate classes exercised in every family."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    near = docs.select(
        (F.col("doc_id") + F.lit(1000000000)).alias("doc_id"),
        F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" zz"))
        .alias("text"),
    )
    far = docs.select(
        (F.col("doc_id") + F.lit(2000000000)).alias("doc_id"),
        F.concat(
            F.array_join(F.slice(F.expr(X.TOKENS_LC), 1, 8), " "),
            F.lit(" qqqqqqqqqqqqqqqqqqqq "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return D.edit_dedup(
        docs.unionByName(near).unionByName(far),
        k=8,
        max_dist=8,
        max_fam=64,
    )


def q_instruction_filter(spark, sf_dir):
    """Instruction-data heuristics over synthesized (instruction,
    response) rows: instruction lengths 1..8 straddle the min bound;
    every 19th response is refusal boilerplate, every 23rd is
    truncated mid-sentence, every 31st echoes the instruction — all
    four flag branches fire on real rows."""
    docs = load(spark, sf_dir, "documents")
    inst = F.array_join(
        F.slice(
            F.expr(X.TOKENS),
            F.lit(1),
            (1 + F.col("doc_id") % 8).cast("int"),
        ),
        " ",
    )
    base = F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit("."))
    resp = (
        F.when(
            F.col("doc_id") % 19 == 0,
            F.lit(
                "As an AI language model, I cannot assist with that"
            ),
        )
        .when(
            F.col("doc_id") % 23 == 0,
            F.concat(
                F.coalesce(F.col("text"), F.lit("")), F.lit(" and")
            ),
        )
        .when(F.col("doc_id") % 31 == 0, inst)
        .otherwise(base)
    )
    rows = docs.select(
        "doc_id",
        inst.alias("instruction"),
        resp.alias("response"),
    )
    return PF.instruction_filter(rows, min_inst=3, max_inst=64)


def q_shard_checksums(spark, sf_dir):
    """Data-versioning manifest over the raw corpus: 64 md5 shards,
    order-independent 32-bit digest sums plus row/char counts — the
    snapshot-comparison primitive (corpus_diff is the row-level
    follow-up)."""
    return X.shard_checksums(
        load(spark, sf_dir, "documents"), shards=64
    )


def _model_responses(spark, sf_dir):
    """Scored responses of the win_matrix / elo_fit keys: 8 per prompt
    across 4 models (2 each); scores repeat per id-pair, so cross-model
    ties occur. Mirrored by the oracles' ``_MODEL_RESP_CTES``."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        F.expr("doc_id div 8").alias("prompt_id"),
        F.col("doc_id").alias("resp_id"),
        F.concat(F.lit("m"), (F.col("doc_id") % 4).cast("string"))
        .alias("model"),
        ((F.expr("doc_id div 2") * 29) % 100).alias("score"),
    )


def q_win_matrix(spark, sf_dir):
    """Pairwise model win-rate matrix over the scored-response
    fixture: 8 responses/prompt across 4 models (2 each, so the
    per-(prompt, model) best-score collapse is exercised); scores
    repeat per id-pair so cross-model ties genuinely occur."""
    return PF.win_matrix(_model_responses(spark, sf_dir))


def q_length_quantiles(spark, sf_dir):
    """Per-domain exact discrete token-length quantiles via the
    count-table discipline (levels, cumulative window over the tiny
    level table, conditional mins) — PERCENTILE_DISC integer
    semantics, zero float risk."""
    return X.length_quantiles(load(spark, sf_dir, "documents"))


def q_corpus_card(spark, sf_dir):
    """Dataset-card sheet over a governance-mixed fixture: every 3rd
    doc becomes a single non-stopword token (language guess
    'unknown'), the rest carry the license-marker suffixes — license
    and language shares both land mid-range."""
    docs = load(spark, sf_dir, "documents")
    m = F.col("doc_id") % 11
    marker = (
        F.when(m == 0, " Licensed under the Apache License 2.0.")
        .when(m == 1, " Released under the MIT License.")
        .when(m == 4, " GNU General Public License v3 applies.")
        .when(m == 7, " All Rights Reserved.")
        .otherwise("")
    )
    fixed = docs.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("zxq"), F.col("doc_id").cast("string")),
        )
        .otherwise(
            F.concat(F.coalesce(F.col("text"), F.lit("")), marker)
        )
        .alias("text"),
    )
    return X.corpus_card(fixed)


def q_elo_fit(spark, sf_dir):
    """Bradley-Terry MM ratings (3 iterations, anchored at the
    highest-W model) over the win_matrix fixture — the leaderboard
    fit downstream of the pairwise matrix; oracle unrolls the MM
    iterations as CTEs (the pagerank/HITS discipline)."""
    resp = _model_responses(spark, sf_dir)
    return PF.elo_fit(PF.win_matrix(resp), iters=3)


def q_conv_near_dup(spark, sf_dir):
    """Conversation near-dup over the transcript fixture plus a
    remixed copy of every conversation with its opening turn mangled:
    7 of 8 turns survive, so each (base, remix) pair clears the
    verified-Jaccard gate while staying below exact-dup."""
    turns = _transcripts(load(spark, sf_dir, "documents"))
    remix = turns.select(
        (F.col("conv_id") + F.lit(1000000000)).alias("conv_id"),
        "turn_idx",
        "role",
        F.when(
            F.col("turn_idx") == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" zz")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return CV.conv_near_dup(turns.unionByName(remix))


def q_manifest_diff(spark, sf_dir):
    """Manifest-level snapshot diff: snapshot B mutates every 13th
    document's text and drops every 97th, so a deterministic subset of
    the 64 shards flags changed while the rest prove byte-stable."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    snap_b = docs.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" v2")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return X.manifest_diff(docs, snap_b, shards=64)


# Key ORDER is load-bearing: the external correctness gate checks only
# the first 50 keys, by position. The head holds the keys whose only
# hash evidence is that gate; keys with independent evidence sit in the
# tail. Reordering moves keys in or out of the gate.
QUERIES: dict[str, Callable] = {
    "manifest_diff": q_manifest_diff,
    "conv_near_dup": q_conv_near_dup,
    "elo_fit": q_elo_fit,
    "win_matrix": q_win_matrix,
    "length_quantiles": q_length_quantiles,
    "corpus_card": q_corpus_card,
    "extractive_coverage": q_extractive_coverage,
    "edit_dedup": q_edit_dedup,
    "instruction_filter": q_instruction_filter,
    "shard_checksums": q_shard_checksums,
    "dpo_pairs": q_dpo_pairs,
    "rft_select": q_rft_select,
    "temperature_sample": q_temperature_sample,
    "doremi_weights": q_doremi_weights,
    "code_quality": q_code_quality,
    "license_tag": q_license_tag,
    "anchor_topk": q_anchor_topk,
    "span_corruption": q_span_corruption,
    "sft_curation": q_sft_curation,
    "conv_stats": q_conv_stats,
    "conv_filter": q_conv_filter,
    "hits": q_hits,
    "cluster_stats": q_cluster_stats,
    "template_families": q_template_families,
    "length_buckets": q_length_buckets,
    "tokenizer_fit": q_tokenizer_fit,
    "distinct_ngrams": q_distinct_ngrams,
    "link_curation": q_link_curation,
    "rrf_fusion": q_rrf_fusion,
    "embedding_outliers": q_embedding_outliers,
    "pq_encode": q_pq_encode,
    "ann_pq": q_ann_pq,
    "ann_ivf_pq": q_ann_ivf_pq,
    "sft_examples": q_sft_examples,
    "oov_rate": q_oov_rate,
    "js_divergence": q_js_divergence,
    "sft_spans": q_sft_spans,
    "quality_select": q_quality_select,
    "ngram_topk": q_ngram_topk,
    "mix_pipeline": q_mix_pipeline,
    "corpus_stats": q_corpus_stats,
    "doc_chunks": q_doc_chunks,
    "dedup_weights": q_dedup_weights,
    "contamination_report": q_contamination_report,
    "url_category": q_url_category,
    "url_decontaminate": q_url_decontaminate,
    "decontaminate_fuzzy": q_decontaminate_fuzzy,
    "near_dup_keep_best": q_near_dup_keep_best,
    "char_entropy": q_char_entropy,
    "c4_rules": q_c4_rules,
    # -- tail: outside the gate --
    "sft_pipeline": q_sft_pipeline,
    "train_shards": q_train_shards,
    "epoch_shards": q_epoch_shards,
    "soft_sample": q_soft_sample,
    "quality_ensemble": q_quality_ensemble,
    "minhash_estimate": q_minhash_estimate,
    "incremental_dedup": q_incremental_dedup,
    "incremental_minhash": q_incremental_minhash,
    "incremental_verified": q_incremental_verified,
    "nb_quality": q_nb_quality,
    "kmeans_clusters": q_kmeans_clusters,
    "semantic_dedup_kmeans": q_semantic_dedup_kmeans,
    "d4_select": q_d4_select,
    "hash_split": q_hash_split,
    "shard_assign": q_shard_assign,
    "incremental_dedup_bloom": q_incremental_dedup_bloom,
    "domain_upsample": q_domain_upsample,
    "kn_logprob": q_kn_logprob,
    "pagerank": q_pagerank,
    "score_normalize": q_score_normalize,
    "cms_topk": q_cms_topk,
    "zipf_fit": q_zipf_fit,
    "corpus_diff": q_corpus_diff,
    "intra_doc_dedup": q_intra_doc_dedup,
    "unicode_clean": q_unicode_clean,
    "token_budget_mix": q_token_budget_mix,
    "weighted_sample": q_weighted_sample,
    "curation_pipeline": q_curation_pipeline,
    "web_curation": q_web_curation,
    "dsir_select": q_dsir_select,
    "line_dedup": q_line_dedup,
    "substring_dedup": q_substring_dedup,
    "ccnet_buckets": q_ccnet_buckets,
    "pack_conversations": q_pack_conversations,
    "bpe_tokenize": q_bpe_tokenize,
    "url_curation": q_url_curation,
    "extract_then_curate": q_extract_then_curate,
    "media_near_dup": q_media_near_dup,
    "extract_plain_route": q_extract_plain_route,
    "extract_html_route": q_extract_html_route,
    "extract_pdf_route": q_extract_pdf_route,
    "media_features": q_media_features,
    "media_decode": q_media_decode,
    "media_frames": q_media_frames,
    "dedup_exact": q_dedup_exact,
    "bigram_logprob": q_bigram_logprob,
    "winnow_verified": q_winnow_verified,
    "semantic_dedup": q_semantic_dedup,
    "decontaminate": q_decontaminate,
    "substring_keep_first": q_substring_keep_first,
    "conv_dedup": q_conv_dedup,
    "bm25_topk": q_bm25_topk,
    "minhash_lsh": q_minhash_lsh,
    "near_dup_groups": q_near_dup_groups,
    "simhash_pairs": q_simhash_pairs,
    "redact_pii": q_redact_pii,
    "gopher_rules": q_gopher_rules,
    "cosine_near_dup": q_cosine_near_dup,
    "unigram_logprob": q_unigram_logprob,
    "ann_ivf": q_ann_ivf,
    "ann_lsh": q_ann_lsh,
    "winnow_pairs": q_winnow_pairs,
    "winnow": q_winnow,
    "cosine_topk": q_cosine_topk,
    "repetition": q_repetition,
    "quality_score": q_quality_score,
    "pack_sequences": q_pack_sequences,
    "ngram_jaccard": q_ngram_jaccard,
    "tfidf_keywords": q_tfidf_keywords,
    "dedup_keep_best": q_dedup_keep_best,
    "domain_mix": q_domain_mix,
    "pmi_bigrams": q_pmi_bigrams,
    "kmv_distinct": q_kmv_distinct,
    "as_of_join": q_as_of_join,
    "sessionize": q_sessionize,
    "simhash": q_simhash,
    "dedup_turns": q_dedup_turns,
    "run_stats_lineitem": q_run_stats_lineitem,
    "window_turn_order": q_window_turn_order,
    "anti_join_resume": q_anti_join_resume,
    "override_join": q_override_join,
    "token_count": q_token_count,
    "fingerprint": q_fingerprint,
    "token_count_bpe": q_token_count_bpe,
    "lang_id": q_lang_id,
    "stratified_sample": q_stratified_sample,
    "vocab_topk": q_vocab_topk,
    "doc_length_stats": q_doc_length_stats,
    "rollup_stats": q_rollup_stats,
    "set_ops": q_set_ops,
    "events_by_day": q_events_by_day,
    "group_topk": q_group_topk,
    "revenue_by_nation": q_revenue_by_nation,
}

# Winnowing CTE chain (k=4, w=4), shared by the winnow and winnow_pairs
# oracles; ends with `sel` = one row per (doc, selected pos, 32-bit hash).
_WINNOW_CTES = f"""arr AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents WHERE trim(text) <> ''
        ),
        ok AS (SELECT doc_id, t FROM arr WHERE len(t) >= 7),
        kg AS (
            SELECT doc_id, len(t) - 4 AS last_start, r.i AS pos,
                   md5(array_to_string(t[r.i + 1:r.i + 4], ' ')) AS h
            FROM ok, unnest(range(0, len(t) - 3)) AS r(i)
        ),
        ku AS (
            SELECT doc_id, last_start, pos,
                   {_hex32('h')}
                   AS u
            FROM kg
        ),
        covered AS (
            SELECT doc_id, pos, u, sv.s AS s
            FROM ku, unnest(range(greatest(0, pos - 3),
                                  least(pos, last_start - 3) + 1))
                     AS sv(s)
        ),
        sel AS (
            SELECT doc_id, pos, u FROM (
                SELECT doc_id, pos, u,
                       row_number() OVER (
                           PARTITION BY doc_id, s
                           ORDER BY u ASC, pos DESC) AS rn
                FROM covered
            ) WHERE rn = 1
        )"""

# Winnow candidate pairs (k=4, w=4, min_shared=2, max_df=100), shared by
# the winnow_pairs and winnow_verified oracles.
_WINNOW_PAIRS_SQL = f"""
        WITH {_WINNOW_CTES},
        fp AS (SELECT DISTINCT doc_id, u AS fp FROM sel),
        dfreq AS (
            SELECT fp, count(*) AS fp_df FROM fp GROUP BY fp
        ),
        pruned AS (
            SELECT f.doc_id, f.fp FROM fp f JOIN dfreq USING (fp)
            WHERE fp_df <= 100
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS n_shared
        FROM pruned a JOIN pruned b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY doc_a, doc_b
        HAVING count(*) >= 2
"""

def _kmeans_ctes(k: int = 8, d: int = 64) -> str:
    """Two unrolled Lloyd iterations mirroring
    ``clustering.kmeans_assign(k, iters=2)``: lowest-vec_id seeds,
    assignment by round-4 cosine (ties to the smaller cid), centroid
    coordinates re-rounded to 6 dp each update — the rounded fixed
    points that make the iterative algorithm engine-portable. Ends with
    ``e`` = (vec_id, emb DOUBLE[]) and ``c2`` = (cid, cent)."""

    def assign(src: str, tag: str) -> str:
        return f"""a{tag} AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(e.emb, c.cent),
                                  4) DESC, c.cid) AS rk
        FROM e CROSS JOIN {src} c) WHERE rk = 1
)"""

    def update(asg: str, tag: str) -> str:
        return f"""c{tag} AS (
    SELECT cid, list(cv ORDER BY pos) AS cent FROM (
        SELECT a.cid, r.pos, round(avg(e.emb[r.pos]), 6) AS cv
        FROM {asg} a JOIN e USING (vec_id)
        CROSS JOIN unnest(range(1, {d + 1})) AS r(pos)
        GROUP BY a.cid, r.pos) GROUP BY cid
)"""

    return f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
       FROM embeddings),
c0 AS (SELECT vec_id AS cid, emb AS cent FROM e ORDER BY vec_id
       LIMIT {k}),
{assign('c0', '0')},
{update('a0', '1')},
{assign('c1', '1')},
{update('a1', '2')}"""


_KMEANS_CTES = _kmeans_ctes(8, 64)

# final (vec_id, cid, cos) assignment against the ``c2`` centroids
_KMEANS_ASG = """SELECT vec_id, cid, cos FROM (
            SELECT e.vec_id, c.cid,
                   round(list_cosine_similarity(e.emb, c.cent), 4) AS cos,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(
                                    e.emb, c.cent), 4) DESC,
                                c.cid) AS rk
            FROM e CROSS JOIN c2 c) WHERE rk = 1"""

# SemDeDup within-cluster losers over an ``af`` (vec_id, cid) assignment
# (cosine >= 0.3 drops the larger id) — semantic_dedup_kmeans and d4_select
_SEMDEDUP_LOSERS_CTES = """m AS (SELECT a.vec_id, a.cid, e.emb
              FROM af a JOIN e USING (vec_id)),
        losers AS (
            SELECT DISTINCT b.vec_id AS doc_id
            FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.emb, b.emb), 4) >= 0.3
        )"""


def _pagerank_sql(iters: int = 3, damping: float = 0.85) -> str:
    """Unrolled power iterations mirroring ``graph.pagerank`` exactly:
    explicit-DOUBLE arithmetic (DuckDB would evaluate FLOAT/BIGINT in
    float32 otherwise), float32 cast per iteration, and the damping
    constants written as the SAME IEEE expressions Spark evaluates
    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE), never the folded
    decimal 0.15 — the bigram_logprob one-ULP lesson)."""
    body, last = _pagerank_ctes(iters, damping)
    return f"""WITH {body}
SELECT node, rank FROM {last}"""


def _pagerank_ctes(iters: int = 3, damping: float = 0.85) -> tuple[str, str]:
    """(CTE body, final-relation name) — shared by the pagerank oracle
    and the link_curation composition oracle."""
    d = repr(damping)
    parts = []
    prev = "r0"
    for k in range(1, iters + 1):
        parts.append(f"""c{k} AS (
    SELECT l.dst AS node,
           SUM(CAST(r.rank AS DOUBLE) / CAST(l.outdeg AS DOUBLE))
               AS contrib
    FROM linked l JOIN {prev} r ON l.src = r.node
    GROUP BY l.dst),
d{k} AS (
    SELECT COALESCE(SUM(CAST(rank AS DOUBLE)), CAST(0 AS DOUBLE)) AS dang
    FROM {prev} WHERE node NOT IN (SELECT src FROM outdeg)),
r{k} AS (
    SELECT nd.node,
           CAST((CAST(1.0 AS DOUBLE) - CAST({d} AS DOUBLE)) / nn.n_d
                + CAST({d} AS DOUBLE)
                  * (COALESCE(c.contrib, CAST(0 AS DOUBLE))
                     + d{k}.dang / nn.n_d)
                AS FLOAT) AS rank
    FROM nodes nd
    LEFT JOIN c{k} c ON nd.node = c.node
    CROSS JOIN d{k} CROSS JOIN nn)""")
        prev = f"r{k}"
    body = ",\n".join(parts)
    full = f"""edges AS (
    SELECT DISTINCT doc_id % 32 AS src, (doc_id * 7 + 3) % 40 AS dst
    FROM documents),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_d FROM nodes),
outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
linked AS (SELECT e.src, e.dst, o.outdeg
           FROM edges e JOIN outdeg o USING (src)),
r0 AS (SELECT node, CAST(CAST(1.0 AS DOUBLE) / nn.n_d AS FLOAT) AS rank
       FROM nodes CROSS JOIN nn),
{body}"""
    return full, prev


def _pq_ctes(m: int = 4, ksub: int = 16, dsub: int = 16,
             iters: int = 1) -> str:
    """Product-quantization training unrolled as SQL CTEs, mirroring
    ``pq.pq_codebooks`` pass by pass: per-subspace slices, lowest-
    vec_id seed codebooks (code = seed rank), assignment by round-4
    within-subspace cosine (ties to the smaller code), updated
    coordinates re-rounded to 6 dp. Ends with ``a{iters}`` = the final
    (vec_id, s, code) encoding and ``c{iters}`` = the final codebook
    (s, code, cent)."""

    def assign(src: str, tag: str) -> str:
        return f"""a{tag} AS (
    SELECT vec_id, s, code FROM (
        SELECT sub.vec_id, sub.s, c.code,
               row_number() OVER (PARTITION BY sub.vec_id, sub.s
                   ORDER BY round(list_cosine_similarity(sub.v, c.cent),
                                  4) DESC, c.code) AS rk
        FROM sub JOIN {src} c ON sub.s = c.s) WHERE rk = 1
)"""

    def update(asg: str, tag: str) -> str:
        return f"""c{tag} AS (
    SELECT s, code, list(cv ORDER BY pos) AS cent FROM (
        SELECT a.s, a.code, r.pos, round(avg(sub.v[r.pos]), 6) AS cv
        FROM {asg} a JOIN sub
            ON a.vec_id = sub.vec_id AND a.s = sub.s
        CROSS JOIN unnest(range(1, {dsub + 1})) AS r(pos)
        GROUP BY a.s, a.code, r.pos) GROUP BY s, code
)"""

    parts = [
        f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
       FROM embeddings),
sub AS (SELECT vec_id, r.s,
               list_slice(emb, r.s * {dsub} + 1, (r.s + 1) * {dsub}) AS v
        FROM e CROSS JOIN unnest(range(0, {m})) AS r(s)),
seeds AS (SELECT vec_id, emb,
                 CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                     AS code
          FROM (SELECT * FROM e ORDER BY vec_id LIMIT {ksub})),
c0 AS (SELECT r.s, code,
              list_slice(emb, r.s * {dsub} + 1, (r.s + 1) * {dsub})
                  AS cent
       FROM seeds CROSS JOIN unnest(range(0, {m})) AS r(s))"""
    ]
    cur = "c0"
    for i in range(iters):
        parts.append(assign(cur, str(i)))
        parts.append(update(f"a{i}", str(i + 1)))
        cur = f"c{i + 1}"
    parts.append(assign(cur, str(iters)))
    return ",\n".join(parts)


_PQ_CTES = _pq_ctes(4, 16, 16, 1)

# query slices ``qsub`` (q_id, s, qv, n1) over the ``q`` query CTE
_PQ_QSUB_CTE = """qsub AS (SELECT q_id, r.s,
                        list_slice(q_emb, r.s * 16 + 1, (r.s + 1) * 16)
                            AS qv,
                        n1
                 FROM q CROSS JOIN unnest(range(0, 4)) AS r(s))"""


def _pq_rerank_sql(refine: int) -> str:
    """ADC score ``sc`` over the LUT ``terms`` (t, t2 per subspace, summed
    in ascending-s order), the top-``refine`` shortlist re-scored by
    exact cosine against ``q``/``e``, and the final top-5 select —
    the refine chain shared by the ann_pq and ann_ivf_pq oracles."""
    return f"""sc AS (SELECT q_id, vec_id,
                      round(list_sum(list(t ORDER BY s))
                            / (any_value(n1)
                               * sqrt(list_sum(list(t2 ORDER BY s)))),
                            4) AS score
               FROM terms GROUP BY q_id, vec_id),
        short AS (SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                       ORDER BY score DESC, vec_id) AS srank
            FROM sc) WHERE srank <= {refine}),
        re AS (SELECT s.q_id, s.vec_id,
                      round(list_inner_product(q.q_emb, e2.emb)
                            / (q.n1
                               * sqrt(list_inner_product(e2.emb,
                                                         e2.emb))),
                            4) AS score
               FROM short s
               JOIN q ON q.q_id = s.q_id
               JOIN e e2 ON e2.vec_id = s.vec_id)
        SELECT q_id, vec_id, score, rank FROM (
            SELECT q_id, vec_id, score,
                   row_number() OVER (PARTITION BY q_id
                       ORDER BY score DESC, vec_id) AS rank
            FROM re) WHERE rank <= 5"""


def _entropy_ctes() -> str:
    """CTE chain ending in `e(doc_id, char_entropy, letter_frac)`: the
    SAME left-associated 26-term sum and per-term CASE guards as the
    char_entropy operator, so the double arithmetic is bit-identical
    before both engines truncate to float32."""
    terms = []
    for i in range(26):
        c = chr(ord("a") + i)
        cnt = f"(tot - length(replace(letters, '{c}', '')))"
        p = f"(CAST({cnt} AS DOUBLE) / CAST(tot AS DOUBLE))"
        terms.append(
            f"CASE WHEN {cnt} > 0 THEN -({p} * ln({p})) "
            f"ELSE 0.0 END"
        )
    ent = "\n                 + ".join(terms)
    return f"""s_ent AS (
            SELECT doc_id, length(text) AS n_chars,
                   regexp_replace(lower(text), '[^a-z]', '', 'g')
                       AS letters
            FROM documents
        ),
        t_ent AS (SELECT doc_id, n_chars, letters,
                         length(letters) AS tot FROM s_ent),
        e AS (
            SELECT doc_id,
                   CAST(CASE WHEN tot > 0 THEN {ent}
                             ELSE 0.0 END AS FLOAT) AS char_entropy,
                   CAST(CASE WHEN n_chars > 0
                             THEN CAST(tot AS DOUBLE)
                                  / CAST(n_chars AS DOUBLE)
                             ELSE 0.0 END AS FLOAT) AS letter_frac
            FROM t_ent
        )"""


def _entropy_sql() -> str:
    return f"""
        WITH {_entropy_ctes()}
        SELECT doc_id, char_entropy, letter_frac FROM e
    """


def _train_shards_sql() -> str:
    """Composition oracle: entropy gate (thresholds compared as DOUBLE
    — DuckDB bare decimals are DECIMAL) -> cumulative md5 split cut
    (int(0.02 * 65536) = 1310) -> per-(split, shard) row_number."""
    return f"""
        WITH {_entropy_ctes()},
        k AS (
            SELECT doc_id FROM e
            WHERE char_entropy >= CAST(2.85 AS DOUBLE)
              AND letter_frac >= CAST(0.3 AS DOUBLE)
        ),
        h AS (
            SELECT doc_id,
                   md5(CAST(doc_id AS VARCHAR)) AS h1,
                   md5(CAST(doc_id AS VARCHAR) || '#') AS h2
            FROM k
        ),
        u AS (
            SELECT doc_id, h2,
                   {_hex_sum('h1', 4)} AS sel,
                   CAST(CAST('0x' || substr(h2, 1, 8) AS BIGINT) % 8
                        AS INT) AS shard
            FROM h
        ),
        lab AS (
            SELECT doc_id, h2, shard,
                   CASE WHEN sel < 1310 THEN 'val'
                        WHEN sel < 2620 THEN 'test'
                        ELSE 'train' END AS split
            FROM u
        )
        SELECT doc_id, split, shard,
               CAST(row_number() OVER (
                   PARTITION BY split, shard ORDER BY h2, doc_id)
                   AS INT) AS pos
        FROM lab
    """


def _unicode_clean_ctes(extra: str = "") -> str:
    """CTE chain ``d1..d8, cleaned(doc_id{extra}, text_clean)``: the
    dirt steps mirror _dirty_docs step by step, then the clean passes
    reuse textops' _UC_FROM/_UC_TO/_UC_STRIP constants VERBATIM
    (imported, not copied -- the translate table and the strip regex
    cannot drift between engines; the strip class mixes literal
    codepoints with RE2 \\xNN escapes, which RE2 and Java regex read
    identically). ``extra`` (e.g. ``", source"``) carries columns
    through for composition oracles."""
    from_sql = X._UC_FROM.replace("'", "''")
    to_sql = X._UC_TO.replace("'", "''")
    return f"""d1 AS (
            SELECT doc_id{extra},
                   CASE WHEN doc_id % 3 = 0
                        THEN '\u201c' || text || '\u201d'
                        ELSE text END AS s
            FROM documents
        ),
        d2 AS (
            SELECT doc_id{extra}, CASE WHEN doc_id % 5 = 0
                                THEN s || '\u2026' ELSE s END AS s
            FROM d1
        ),
        d3 AS (
            SELECT doc_id{extra}, replace(s, 'row', 'r\u00adow') AS s
            FROM d2
        ),
        d4 AS (
            SELECT doc_id{extra}, replace(s, 'e', 'e\u200b') AS s
            FROM d3
        ),
        d5 AS (
            SELECT doc_id{extra},
                   CASE WHEN doc_id % 2 = 0
                        THEN replace(s, ' a ', ' \u00a0a\u00a0 ')
                        ELSE s END AS s
            FROM d4
        ),
        d6 AS (
            SELECT doc_id{extra}, CASE WHEN doc_id % 11 = 0
                                THEN s || '\u2014done' ELSE s END AS s
            FROM d5
        ),
        d7 AS (
            SELECT doc_id{extra}, CASE WHEN doc_id % 7 = 0
                                THEN chr(7) || s ELSE s END AS s
            FROM d6
        ),
        d8 AS (SELECT doc_id{extra}, '\ufeff' || s AS s FROM d7),
        cleaned AS (
            SELECT doc_id{extra},
                   trim(regexp_replace(
                       regexp_replace(
                           regexp_replace(
                               translate(s, '{from_sql}', '{to_sql}'),
                               '{X._UC_STRIP}', '', 'g'),
                           '\u2026', '...', 'g'),
                       ' {{2,}}', ' ', 'g')) AS text_clean
            FROM d8
        )"""


def _unicode_clean_sql() -> str:
    return f"""
        WITH {_unicode_clean_ctes()}
        SELECT doc_id, text_clean,
               CAST(length(text_clean) AS BIGINT) AS n_chars_clean
        FROM cleaned
    """


def _quality_expr_sql(col: str = "text") -> str:
    """The with_quality blend as a DuckDB expression over ``col`` --
    the one copy every quality-scoring oracle uses (aliasing the
    column must not fork the formula)."""
    return f"""round(
                 0.4 * least(1.0,
                     len(regexp_split_to_array(trim({col}), '\\s+'))
                         / 50.0)
               + 0.3 * (length(regexp_replace({col}, '[^a-zA-Z]',
                                              '', 'g'))
                        / length({col}))
               + 0.3 * least(1.0,
                     5.0 * len(list_filter(
                         regexp_split_to_array(trim({col}), '\\s+'),
                         t -> lower(t) IN ({_STOP_SQL})))
                     / len(regexp_split_to_array(trim({col}),
                                                 '\\s+'))),
               4)"""


# md5-ordered running token sum per source over ``t`` (doc_id, source,
# n_tokens, h) — the token_budget_mix / mix_pipeline budget cut
_CUM_TOKENS_SQL = """c AS (
            SELECT doc_id, source, n_tokens,
                   CAST(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS cum_tokens
            FROM t
        )
        SELECT doc_id, source, n_tokens, cum_tokens"""


def _mix_pipeline_sql() -> str:
    """Composition oracle: dirt -> unicode_clean CTEs (source carried)
    -> quality over text_clean -> within-domain top-50% rank cut ->
    md5-ordered running token sum -> 400-token budget cut."""
    return f"""
        WITH {_unicode_clean_ctes(", source")},
        s AS (
            SELECT doc_id, source, text_clean,
                   {_quality_expr_sql("text_clean")} AS quality
            FROM cleaned
        ),
        r AS (
            SELECT doc_id, source, text_clean, quality,
                   CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY quality DESC, doc_id ASC) AS INT) AS rk,
                   count(*) OVER (PARTITION BY source) AS n_domain
            FROM s
        ),
        kept AS (
            SELECT doc_id, source, text_clean FROM r
            WHERE rk <= ceil(CAST(0.5 AS DOUBLE) * n_domain)
        ),
        t AS (
            SELECT doc_id, source,
                   {_ntok_sql('text_clean')} AS n_tokens,
                   md5(CAST(doc_id AS VARCHAR)) AS h
            FROM kept
        ),
        {_CUM_TOKENS_SQL}
        FROM c WHERE cum_tokens - n_tokens < 400
    """


# lowercased whitespace terms ``toks`` = (doc_id, term) of non-blank docs
_TERMS_CTE = """toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                       AS term
            FROM documents WHERE trim(text) <> ''
        )"""


def _cos_top5_sql(pairs: str) -> str:
    """Cosine top-5 neighbours (ties to the smaller vec_id) of the
    vec_id < 10 queries ``q`` over the candidate join ``pairs``."""
    return f"""SELECT q_id, vec_id, cos, rank FROM (
            SELECT q.vec_id AS q_id, e.vec_id,
                   round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]),
                         4) AS cos,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(
                                    q.embedding, e.embedding), 4) DESC,
                                e.vec_id) AS rank
            FROM {pairs}
            WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
        ) WHERE rank <= 5"""


# tokens packed before a row in its shard (textops.pack_sequences'
# per-shard window cumsum), split at 512 into (seq_idx, seq_offset)
_PACKED = """coalesce(sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0)"""
_SEQ_COLS = f"""CAST(floor({_PACKED} / 512) AS BIGINT) AS seq_idx,
               CAST({_PACKED} % 512 AS BIGINT) AS seq_offset"""

# The synthesized SFT transcripts ``t`` (mirror _sft_turns) and their
# 3-turn lag contexts ``lagged`` (textops.sft_examples) — shared by the
# sft_examples, sft_pipeline and sft_spans oracles.
_SFT_CTES = """t AS (
            SELECT doc_id // 8 AS conv_id, doc_id % 8 AS turn_idx,
                   CASE WHEN doc_id % 2 = 0 THEN 'user'
                        ELSE 'assistant' END AS role,
                   text
            FROM documents
        ),
        lagged AS (
            SELECT conv_id, turn_idx, role, text,
                   lag(concat_ws(': ', role, text), 3) OVER w AS c3,
                   lag(concat_ws(': ', role, text), 2) OVER w AS c2,
                   lag(concat_ws(': ', role, text), 1) OVER w AS c1
            FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        )"""

# Per-doc bigram stream ``bf`` (empty tokens dropped) and its counts
# ``cab`` — shared by the bigram_logprob and kn_logprob oracles.
_BIGRAM_CTES = """arrs AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents WHERE trim(text) <> ''
        ),
        big AS (
            SELECT doc_id, t[r.i + 1] AS term_a, t[r.i + 2] AS term_b
            FROM arrs, unnest(range(0, len(t) - 1)) AS r(i)
            WHERE len(t) >= 2
        ),
        bf AS (
            SELECT * FROM big WHERE term_a <> '' AND term_b <> ''
        ),
        cab AS (
            SELECT term_a, term_b, count(*) AS c_ab
            FROM bf GROUP BY 1, 2
        )"""

# SoftDeDup fixture (mirror _twinned_docs) and its canonical
# fingerprints ``f`` — shared by the dedup_weights and soft_sample oracles
_TWIN_FP_CTES = f"""u AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000000,
                   regexp_replace(upper(text), ' ', '  ', 'g') || '  '
            FROM documents WHERE doc_id % 3 = 0
        ),
        f AS (
            SELECT doc_id,
                   {_FP_SQL} AS fingerprint
            FROM u
        )"""

# Banner-injected documents (mirror _banner_injected_docs verbatim) and
# dedup.line_dedup(max_df=1) up to the per-doc ``agg`` of kept lines —
# shared by the line_dedup and web_curation oracles.
_LINE_DEDUP_CTES = """injected AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0
                        THEN 'subscribe to our newsletter today' || chr(10)
                        ELSE '' END
                   || text
                   || CASE WHEN doc_id % 3 = 0
                        THEN chr(10) || 'all rights reserved copyright notice'
                        ELSE '' END
                   || CASE WHEN doc_id % 2 = 0
                        THEN chr(10) || 'follow us on example social network'
                        ELSE '' END AS text
            FROM documents
        ),
        parts AS (
            SELECT doc_id, string_split(text, chr(10)) AS ls FROM injected
        ),
        lines AS (
            SELECT doc_id, i AS pos, trim(ls[i + 1]) AS lnorm
            FROM parts, unnest(range(0, len(ls))) AS t(i)
        ),
        ne AS (SELECT * FROM lines WHERE lnorm <> ''),
        freq AS (
            SELECT lnorm, count(DISTINCT doc_id) AS line_df
            FROM ne GROUP BY lnorm
        ),
        j AS (
            SELECT ne.doc_id, ne.pos, ne.lnorm, freq.line_df
            FROM ne JOIN freq USING (lnorm)
        ),
        agg AS (
            SELECT doc_id,
                   array_to_string(list(lnorm ORDER BY pos)
                       FILTER (WHERE line_df <= 1), chr(10)) AS text_clean,
                   count(*) FILTER (WHERE line_df <= 1) AS n_kept,
                   count(*) FILTER (WHERE line_df > 1) AS n_dropped
            FROM j GROUP BY doc_id
        )"""


# every extract route's golden output is the ws-collapsed input text
_EXTRACT_ROUTE_SQL = """
        SELECT doc_id,
               regexp_replace(trim(text), '\\s+', ' ', 'g') AS text,
               '' AS error
        FROM documents
"""


ORACLES: dict[str, str] = {
    "run_stats_lineitem": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    "window_turn_order": """
        SELECT user_id, event_id, rn FROM (
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ) WHERE rn <= 3
    """,
    "anti_join_resume": """
        SELECT c_custkey FROM customer
        WHERE c_custkey NOT IN (
            SELECT c_custkey FROM customer WHERE c_custkey % 4 = 0
        )
    """,
    "override_join": """
        SELECT d.doc_id,
               coalesce(o.otext, d.text) AS text_final,
               o.otext IS NOT NULL AS overridden
        FROM documents d
        LEFT JOIN (
            SELECT doc_id, 'OVERRIDDEN' AS otext
            FROM documents WHERE doc_id % 50 = 0
        ) o ON d.doc_id = o.doc_id
    """,
    "dedup_keep_best": f"""
        WITH corpus AS (
            SELECT doc_id, text, n_chars FROM documents
            UNION ALL
            SELECT doc_id + 1000000000, replace(text, ' ', '  '),
                   n_chars + 50
            FROM documents WHERE doc_id < 100
        ),
        f AS (
            SELECT doc_id,
                   {_FP_SQL}
                       AS fingerprint,
                   n_chars
            FROM corpus
        )
        SELECT fingerprint, keep_id, best_quality, n_dups FROM (
            SELECT fingerprint, doc_id AS keep_id,
                   n_chars AS best_quality,
                   count(*) OVER (PARTITION BY fingerprint) AS n_dups,
                   row_number() OVER (
                       PARTITION BY fingerprint
                       ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM f
        ) WHERE rn = 1
    """,
    "dedup_exact": f"""
        SELECT {_FP_SQL}
                   AS fingerprint,
               min(doc_id) AS keep_id,
               count(*) AS n_dups
        FROM documents GROUP BY 1
    """,
    "dedup_turns": """
        SELECT doc_id FROM documents
    """,
    "token_count": f"""
        SELECT doc_id,
               {_ntok_sql()} AS n_tokens
        FROM documents
    """,
    "extract_then_curate": f"""
        WITH ext AS (
            SELECT doc_id,
                   regexp_replace(trim(text), '\\s+', ' ', 'g') AS text
            FROM documents
        ),
        scored AS (
            SELECT doc_id, text,
                   {_ntok_sql()} AS n_tokens,
                   {_quality_expr_sql("text")} AS quality
            FROM ext
        ),
        keep AS (
            SELECT min(doc_id) AS doc_id FROM (
                SELECT doc_id,
                       {_FP_SQL} AS f
                FROM scored
            ) GROUP BY f
        )
        SELECT s.doc_id, s.n_tokens, s.quality
        FROM scored s JOIN keep USING (doc_id)
    """,
    "token_count_bpe": r"""
        SELECT doc_id,
               len(regexp_extract_all(
                   text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r]+'))
                   AS n_bpe_tokens
        FROM documents
    """,
    "lang_id": f"""
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               t -> lower(t) IN ({_STOP_SQL}))) AS stop_hits,
               CASE WHEN len(list_filter(
                        regexp_split_to_array(trim(text), '\\s+'),
                        t -> lower(t) IN ({_STOP_SQL}))) >= 2
                    THEN 'en' ELSE 'unknown' END AS lang_guess
        FROM documents
    """,
    "quality_score": f"""
        SELECT doc_id,
               {_quality_expr_sql("text")} AS quality
        FROM documents
    """,
    "fingerprint": f"""
        SELECT doc_id,
               {_FP_SQL}
                   AS fingerprint
        FROM documents
    """,
    "ngram_jaccard": _JACCARD_SQL,
    "line_dedup": f"""
        WITH {_LINE_DEDUP_CTES}
        SELECT d.doc_id,
               coalesce(a.text_clean, '') AS text_clean,
               coalesce(a.n_kept, 0) AS n_kept,
               coalesce(a.n_dropped, 0) AS n_dropped
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    # oracles generated by _substring_sql (remove-everywhere and the
    # keep-first canonical-occurrence policy)
    "substring_dedup": _substring_sql(False),
    "substring_keep_first": _substring_sql(True),
    "web_curation": f"""
        WITH {_LINE_DEDUP_CTES},
        cleaned AS (
            SELECT d.doc_id,
                   coalesce(a.text_clean, '') AS text,
                   coalesce(a.n_kept, 0) AS n_kept,
                   coalesce(a.n_dropped, 0) AS n_dropped
            FROM documents d LEFT JOIN agg a USING (doc_id)
        ),
        fp AS (
            SELECT doc_id,
                   {_FP_SQL}
                       AS f
            FROM cleaned
        ),
        keepers AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
        surv AS (
            SELECT c.* FROM cleaned c JOIN keepers USING (doc_id)
        ),
        stoks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM surv
        ),
        ssh AS (
            SELECT DISTINCT doc_id,
                   unnest([array_to_string(t[i + 1:i + 13], ' ')
                           for i in range(0, len(t) - 12)]) AS shingle
            FROM stoks WHERE len(t) >= 13
        ),
        btoks AS (
            SELECT regexp_split_to_array(trim(text), '\\s+') AS t
            FROM cleaned WHERE doc_id % 17 = 0
        ),
        bsh AS (
            SELECT DISTINCT
                   unnest([array_to_string(t[i + 1:i + 13], ' ')
                           for i in range(0, len(t) - 12)]) AS shingle
            FROM btoks WHERE len(t) >= 13
        ),
        cont AS (
            SELECT DISTINCT ssh.doc_id FROM ssh JOIN bsh USING (shingle)
        )
        SELECT s.doc_id, s.n_kept, s.n_dropped
        FROM surv s LEFT JOIN cont c ON s.doc_id = c.doc_id
        WHERE c.doc_id IS NULL
    """,
    # fuzzy decontamination: band the corpus and the half-token eval
    # set independently (same hash family as _MINHASH_SQL), verify band
    # candidates with exact bipartite Jaccard (df cap over the
    # candidate-restricted union), flag corpus docs with any match —
    # mirrors dedup.decontaminate_fuzzy over the q_decontaminate_fuzzy
    # fixture
    "decontaminate_fuzzy": f"""
        WITH corp AS (SELECT doc_id, text FROM documents),
        bench AS (
            SELECT doc_id,
                   array_to_string(
                       t[1:greatest(3, CAST(floor(len(t) / 2) AS INT))],
                       ' ') AS text
            FROM (SELECT doc_id,
                         regexp_split_to_array(trim(text), '\\s+') AS t
                  FROM documents WHERE doc_id % 17 = 0)
        ),
        {_bands_sql('bench', '1')},
        {_bands_sql('corp', '2')},
        {_CROSS_JACCARD_CTES},
        hits AS (
            SELECT DISTINCT inter.doc_id
            FROM inter
            JOIN szi USING (doc_id)
            JOIN szc USING (committed_id)
            JOIN cand USING (doc_id, committed_id)
            WHERE round(inter / (szi.sz_i + szc.sz_c - inter), 4) >= 0.3
        ),
        ids AS (SELECT DISTINCT doc_id FROM corp)
        SELECT ids.doc_id, (hits.doc_id IS NOT NULL) AS contaminated
        FROM ids LEFT JOIN hits ON ids.doc_id = hits.doc_id
    """,
    "decontaminate": f"""
        WITH {_sh_cte(13)},
        bsh AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 0
        ),
        cont AS (
            SELECT DISTINCT sh.doc_id FROM sh JOIN bsh USING (shingle)
        )
        SELECT d.doc_id, (c.doc_id IS NOT NULL) AS contaminated
        FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id
    """,
    # contamination_report: bench = every 17th doc, every 20th token
    # replaced by an out-of-corpus marker; grams_hit = count(non-null)
    # (NOT sum(CASE): DuckDB sum(int) is HUGEINT -> pandas float)
    "contamination_report": f"""
        WITH {_sh_cte(13)},
        bmod AS (
            SELECT doc_id AS bench_id,
                   list(CASE WHEN (r.i % 20) = 0 THEN 'xmarkerx'
                             ELSE t[r.i + 1] END ORDER BY r.i) AS bt
            FROM toks, unnest(range(0, len(t))) AS r(i)
            WHERE doc_id % 17 = 0
            GROUP BY doc_id
        ),
        bsh AS (
            SELECT DISTINCT bench_id,
                   unnest([array_to_string(bt[i + 1:i + 13], ' ')
                           for i in range(0, len(bt) - 12)]) AS shingle
            FROM bmod WHERE len(bt) >= 13
        ),
        hit AS (
            SELECT DISTINCT sh.shingle FROM sh
            JOIN (SELECT DISTINCT shingle FROM bsh) v
              ON sh.shingle = v.shingle
        )
        SELECT bench_id, count(*) AS grams_total,
               count(h.shingle) AS grams_hit,
               CAST(CAST(count(h.shingle) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) AS FLOAT) AS coverage
        FROM bsh LEFT JOIN hit h ON bsh.shingle = h.shingle
        GROUP BY bench_id
    """,
    # incremental (cross-run) dedup fixture: run-1 = doc_id % 3 != 0
    # committed, increment = even docs + ws-mangled first-50 remixes
    "incremental_dedup": f"""
        WITH {_INCR_FIXTURE},
        committed AS (
            SELECT DISTINCT
                   {_FP_SQL} AS fingerprint
            FROM run1
        ),
        f AS (
            SELECT doc_id,
                   {_FP_SQL} AS fingerprint
            FROM incr
        ),
        fresh AS (
            SELECT * FROM f WHERE fingerprint NOT IN
                (SELECT fingerprint FROM committed)
        )
        SELECT fingerprint, min(doc_id) AS keep_id,
               count(*) AS n_dups
        FROM fresh GROUP BY fingerprint
    """,
    # band-candidate screening: same hash family as _MINHASH_SQL,
    # computed independently over the committed and increment relations
    "incremental_minhash": f"""
        WITH {_INCR_FIXTURE},
        {_bands_sql('run1', '1')},
        {_bands_sql('incr', '2')},
        hits AS (
            SELECT DISTINCT b2.doc_id
            FROM b2 JOIN (SELECT DISTINCT band, band_key FROM b1) c
              USING (band, band_key)
        ),
        ids AS (SELECT DISTINCT doc_id FROM incr)
        SELECT ids.doc_id,
               (hits.doc_id IS NOT NULL) AS near_dup_committed
        FROM ids LEFT JOIN hits ON ids.doc_id = hits.doc_id
    """,
    # band candidates from the committed store, verified by exact
    # cross-corpus Jaccard on candidate docs only (df cap over the
    # candidate docs of both sides, mirroring the cross-pair verify of
    # incremental_minhash_verified)
    "incremental_verified": f"""
        WITH {_INCR_FIXTURE},
        {_bands_sql('run1', '1')},
        {_bands_sql('incr', '2')},
        {_CROSS_JACCARD_CTES}
        SELECT inter.doc_id, inter.committed_id,
               round(inter / (szi.sz_i + szc.sz_c - inter), 4)
                   AS jaccard
        FROM inter
        JOIN szi USING (doc_id)
        JOIN szc USING (committed_id)
        JOIN cand USING (doc_id, committed_id)
        WHERE round(inter / (szi.sz_i + szc.sz_c - inter), 4) >= 0.05
    """,
    "minhash_lsh": _MINHASH_SQL,
    # signature-agreement estimate: positional component matches over
    # the (seed, part) long form = Spark's mh{i} columns (i =
    # seed*4 + part); count(FILTER) keeps BIGINT (integer kind — the
    # sum(CASE) HUGEINT->float trap); n/16 is dyadic so round-4 exact
    "minhash_estimate": f"""
        WITH {_SH_CTE},
        {_minhash_ctes("sh", "mh", "bands")},
        {_CANDS_CTE},
        agree AS (
            SELECT c.doc_a, c.doc_b,
                   count(*) FILTER (WHERE ma.minhash = mb.minhash)
                       AS n_match
            FROM cands c
            JOIN mh ma ON ma.doc_id = c.doc_a
            JOIN mh mb ON mb.doc_id = c.doc_b
                      AND mb.seed = ma.seed AND mb.part = ma.part
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_match,
               round(n_match / 16, 4) AS est_jaccard
        FROM agree WHERE n_match >= 1
    """,
    "simhash": _simhash_sql(16),
    "simhash_pairs": _simhash_pairs_sql(64, 4, 3),
    # transitive min over the same LSH pair graph: every node's group is
    # the min doc_id reachable through verified near-dup edges
    "near_dup_groups": f"""
        WITH RECURSIVE {_CC_CTES}
        SELECT doc_id, min(lab) AS group_id FROM r GROUP BY doc_id
    """,
    # near_dup_keep_best: the same recursive component labelling, then
    # the quality expression (_quality_expr_sql, as quality_score)
    # and a rank-1 keep per cluster (quality DESC, doc_id — mirroring
    # the operator's max_by (quality, -id) struct tie-break).
    "near_dup_keep_best": f"""
        WITH RECURSIVE {_CC_CTES},
        g AS (SELECT doc_id, min(lab) AS group_id FROM r
              GROUP BY doc_id),
        qual AS (
            SELECT doc_id,
                   {_quality_expr_sql("text")} AS quality
            FROM documents
        ),
        mem AS (SELECT g.doc_id, g.group_id, qual.quality
                FROM g JOIN qual USING (doc_id)),
        keep AS (SELECT group_id, doc_id AS keep_id FROM (
                     SELECT group_id, doc_id,
                            row_number() OVER (PARTITION BY group_id
                                ORDER BY quality DESC, doc_id) AS rk
                     FROM mem) WHERE rk = 1),
        losers AS (SELECT m.doc_id FROM mem m
                   JOIN keep k ON m.group_id = k.group_id
                   WHERE m.doc_id <> k.keep_id)
        SELECT doc_id, source, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """,
    "char_entropy": _entropy_sql(),
    "train_shards": _train_shards_sql(),
    # hash_split: same 16-bit md5 selector as stratified_sample;
    # cumulative cuts val [0,3276) test [3276,6552) train otherwise
    # (int(0.05 * 65536) = 3276, matching the operator's int() floor).
    "hash_split": f"""
        WITH s AS (
            SELECT l_orderkey, l_linenumber,
                   md5(CAST(l_orderkey AS VARCHAR)) AS h
            FROM lineitem
        ),
        u AS (
            SELECT l_orderkey, l_linenumber,
                   {_hex_sum('h', 4)} AS sel
            FROM s
        )
        SELECT l_orderkey, l_linenumber,
               CASE WHEN sel < 3276 THEN 'val'
                    WHEN sel < 6552 THEN 'test'
                    ELSE 'train' END AS split
        FROM u
    """,
    # shard_assign: shard = first 8 md5 hex digits mod 8 (DuckDB parses
    # '0x..' casts); pos = row_number over (shard ORDER BY h, key) --
    # bit-identical to the operator's conv(substr(md5,1,8),16,10).
    "shard_assign": """
        WITH s AS (
            SELECT doc_id,
                   md5(CAST(doc_id AS VARCHAR) || '#') AS h
            FROM documents
        ),
        b AS (
            SELECT doc_id, h,
                   CAST(CAST('0x' || substr(h, 1, 8) AS BIGINT) % 8
                        AS INT) AS shard
            FROM s
        )
        SELECT doc_id, shard,
               CAST(row_number() OVER (
                   PARTITION BY shard ORDER BY h, doc_id) AS INT) AS pos
        FROM b
    """,
    # intra_doc_dedup: fixture mirrors _intra_docs; keep line i iff its
    # first-occurrence index == i (DuckDB lambda index is 1-based where
    # Spark's is 0-based — hence `= i` here vs `= i + 1` in the op).
    "intra_doc_dedup": """
        WITH fixture AS (
            SELECT doc_id,
                   substr(text, 1, 20) || chr(10)
                   || substr(text, 21, 20) || chr(10)
                   || substr(text, 1, 20) || chr(10)
                   || substr(text, 41, 20) || chr(10)
                   || CASE WHEN doc_id % 3 = 0 THEN substr(text, 21, 20)
                           ELSE substr(text, 61, 20) END AS text
            FROM documents
        ),
        l AS (
            SELECT doc_id, string_split(text, chr(10)) AS ls
            FROM fixture
        ),
        k AS (
            SELECT doc_id, ls,
                   list_filter(ls, (x, i) -> list_position(ls, x) = i)
                       AS kept
            FROM l
        )
        SELECT doc_id,
               coalesce(array_to_string(kept, chr(10)), '') AS text_clean,
               CAST(len(ls) AS BIGINT) AS n_lines,
               CAST(len(ls) - len(kept) AS BIGINT) AS n_dropped
        FROM k
    """,
    # token_budget_mix: same md5 order and integer running sum as the
    # operator; SUM over int is HUGEINT in DuckDB -> CAST BIGINT.
    "token_budget_mix": f"""
        WITH t AS (
            SELECT doc_id, source,
                   {_ntok_sql()} AS n_tokens,
                   md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents
        ),
        {_CUM_TOKENS_SQL}
        FROM c WHERE cum_tokens - n_tokens < 600
    """,
    # quality_select: the quality expression comes from
    # _quality_expr_sql (shared with every quality oracle); the
    # CAST(0.4 AS DOUBLE) is load-bearing (DuckDB's bare 0.4 is
    # DECIMAL and 0.4*25 rounds differently from IEEE).
    "quality_select": f"""
        WITH s AS (
            SELECT doc_id, source,
                   {_quality_expr_sql("text")} AS quality
            FROM documents
        ),
        r AS (
            SELECT doc_id, source, quality,
                   CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY quality DESC, doc_id ASC) AS INT) AS rk,
                   count(*) OVER (PARTITION BY source) AS n_domain
            FROM s
        )
        SELECT doc_id, source, quality, rk
        FROM r WHERE rk <= ceil(CAST(0.4 AS DOUBLE) * n_domain)
    """,
    "unicode_clean": _unicode_clean_sql(),
    "mix_pipeline": _mix_pipeline_sql(),
    "domain_upsample": _upsample_sql(),
    "epoch_shards": _epoch_shards_sql(),
    # soft_sample: dedup_weights' float32 weight feeds the E-S race;
    # FLOAT -> DOUBLE widening is exact on both engines, so ln(u)/w is
    # the same double either side.
    "soft_sample": f"""
        WITH {_TWIN_FP_CTES},
        wt AS (
            SELECT doc_id,
                   CAST(CAST(1.0 AS DOUBLE)
                        / count(*) OVER (PARTITION BY fingerprint)
                        AS FLOAT) AS weight
            FROM f
        ),
        race AS (
            SELECT doc_id, weight,
                   ln((CAST('0x' || substr(
                           md5(CAST(doc_id AS VARCHAR)), 1, 12)
                       AS BIGINT) + 1) / 281474976710656.0)
                       / weight AS es
            FROM wt WHERE weight > 0
        ),
        r AS (
            SELECT doc_id, weight, es,
                   CAST(row_number() OVER (
                       ORDER BY es DESC, doc_id ASC) AS INT) AS rk
            FROM race
        )
        SELECT doc_id, weight, CAST(es AS FLOAT) AS es_key, rk
        FROM r WHERE rk <= 100
    """,
    # dedup_weights: CAST(1.0 AS DOUBLE) is load-bearing — DuckDB's
    # bare 1.0 is DECIMAL and DECIMAL/BIGINT division rounds
    # differently from IEEE before the 6 dp round.
    "dedup_weights": f"""
        WITH {_TWIN_FP_CTES}
        SELECT doc_id, fingerprint,
               CAST(count(*) OVER (PARTITION BY fingerprint)
                    AS BIGINT) AS n_dups,
               CAST(CAST(1.0 AS DOUBLE)
                    / count(*) OVER (PARTITION BY fingerprint)
                    AS FLOAT) AS weight
        FROM f
    """,
    "doc_chunks": """
        WITH t AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        n AS (
            SELECT doc_id, t,
                   CASE WHEN len(t) <= 32 THEN 1
                        ELSE CAST(ceil(CAST(len(t) - 32 AS DOUBLE)
                                       / 24.0) AS INT) + 1
                   END AS nc
            FROM t
        ),
        e AS (
            SELECT doc_id, t,
                   unnest(generate_series(0, nc - 1)) AS ci
            FROM n
        )
        SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
               array_to_string(
                   list_slice(t, ci * 24 + 1, ci * 24 + 32), ' ')
                   AS chunk_text,
               CAST(len(list_slice(t, ci * 24 + 1, ci * 24 + 32))
                    AS INT) AS n_chunk_tokens
        FROM e
    """,
    "weighted_sample": f"""
        WITH s AS (
            SELECT doc_id, source,
                   {_quality_expr_sql("text")} AS quality
            FROM documents
        ),
        w AS (
            SELECT doc_id, source, quality,
                   ln((CAST('0x' || substr(
                           md5(CAST(doc_id AS VARCHAR)), 1, 12)
                       AS BIGINT) + 1) / 281474976710656.0)
                       / quality AS es
            FROM s WHERE quality > 0
        ),
        r AS (
            SELECT doc_id, source, quality, es,
                   CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY es DESC, doc_id ASC) AS INT) AS rk
            FROM w
        )
        SELECT doc_id, source, quality,
               CAST(es AS FLOAT) AS es_key, rk
        FROM r WHERE rk <= 10
    """,
    "corpus_stats": f"""
        WITH d AS (
            SELECT source,
                   {_ntok_sql()} AS n_tokens,
                   {_quality_expr_sql("text")} AS quality
            FROM documents
        )
        SELECT source, count(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               MIN(n_tokens) AS min_tokens,
               MAX(n_tokens) AS max_tokens,
               round(AVG(n_tokens), 3) AS avg_tokens,
               round(AVG(quality), 3) AS avg_quality,
               CAST(SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_high_quality
        FROM d GROUP BY source
    """,
    "ngram_topk": """
        WITH t AS (
            SELECT list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> x <> '') AS t
            FROM documents
        ),
        g AS (
            SELECT unnest(list_transform(
                       generate_series(1, len(t) - 2),
                       j -> array_to_string(
                           list_slice(t, j, j + 2), ' '))) AS gram
            FROM t WHERE len(t) >= 3
        )
        SELECT gram, count(*) AS n_occurrences
        FROM g GROUP BY gram
        ORDER BY n_occurrences DESC, gram ASC
        LIMIT 100
    """,
    "stratified_sample": f"""
        WITH s AS (
            SELECT doc_id,
                   CASE WHEN n_chars < 400 THEN 'short' ELSE 'long' END
                       AS stratum,
                   md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents
        )
        SELECT doc_id, stratum FROM s
        WHERE {_hex_sum('h', 4)}
            < CASE stratum WHEN 'short' THEN CAST(0.2 * 65536 AS INT)
                           ELSE CAST(0.6 * 65536 AS INT) END
    """,
    "ann_ivf": """
        WITH c AS (
            SELECT vec_id AS cid, embedding AS cent
            FROM embeddings ORDER BY vec_id LIMIT 32
        ),
        a AS (
            SELECT vec_id, embedding FROM embeddings
        ),
        assign AS (
            SELECT vec_id, embedding, cid FROM (
                SELECT a.vec_id, a.embedding, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY round(list_cosine_similarity(
                               a.embedding::DOUBLE[], c.cent::DOUBLE[]), 4)
                               DESC, c.cid
                       ) AS rn
                FROM a CROSS JOIN c
            ) WHERE rn = 1
        ),
        probes AS (
            SELECT q_id, q_emb, cid FROM (
                SELECT q.vec_id AS q_id, q.embedding AS q_emb, c.cid,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(list_cosine_similarity(
                               q.embedding::DOUBLE[], c.cent::DOUBLE[]), 4)
                               DESC, c.cid
                       ) AS rn
                FROM embeddings q CROSS JOIN c
                WHERE q.vec_id < 10
            ) WHERE rn <= 4
        ),
        cand AS (
            SELECT DISTINCT p.q_id, p.q_emb, s.vec_id, s.embedding
            FROM probes p JOIN assign s USING (cid)
            WHERE p.q_id <> s.vec_id
        )
        SELECT q_id, vec_id, cos, rank FROM (
            SELECT q_id, vec_id,
                   round(list_cosine_similarity(
                       q_emb::DOUBLE[], embedding::DOUBLE[]), 4) AS cos,
                   row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY round(list_cosine_similarity(
                           q_emb::DOUBLE[], embedding::DOUBLE[]), 4)
                           DESC, vec_id
                   ) AS rank
            FROM cand
        ) WHERE rank <= 5
    """,
    "redact_pii": """
        WITH injected AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 7 = 0
                           THEN ' contact user7@example.com now'
                           ELSE '' END
                   || CASE WHEN doc_id % 11 = 0
                           THEN ' see https://example.org/page?id=1'
                           ELSE '' END
                   || CASE WHEN doc_id % 13 = 0
                           THEN ' call +1 555-123-4567 today'
                           ELSE '' END
                   || CASE WHEN doc_id % 17 = 0
                           THEN ' host 192.168.101.204 up'
                           ELSE '' END
                   || CASE WHEN doc_id % 19 = 0
                           THEN ' ssn 123-45-6789 on file'
                           ELSE '' END
                   || CASE WHEN doc_id % 23 = 0
                           THEN ' pay DE89370400440532013000 ref'
                           ELSE '' END AS text
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                   AS n_emails,
               len(regexp_extract_all(text, 'https?://[^\\s]+'))
                   AS n_urls,
               len(regexp_extract_all(text,
                   '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))
                   AS n_ipv4s,
               len(regexp_extract_all(text,
                   '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS n_ssns,
               len(regexp_extract_all(text,
                   '\\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\\b')) AS n_ibans,
               len(regexp_extract_all(text,
                   '\\+?[0-9][0-9\\- ]{7,}[0-9]')) AS n_phones,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(
                               regexp_replace(
                                   regexp_replace(text,
                                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                                       '<EMAIL>', 'g'),
                                   'https?://[^\\s]+', '<URL>', 'g'),
                               '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
                               '<IPV4>', 'g'),
                           '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b',
                           '<SSN>', 'g'),
                       '\\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\\b',
                       '<IBAN>', 'g'),
                   '\\+?[0-9][0-9\\- ]{7,}[0-9]', '<PHONE>', 'g')
                   AS text_redacted
        FROM injected
    """,
    "gopher_rules": f"""
        WITH {_GOPHER_CTES}
        SELECT doc_id, word_count, mean_word_len, symbol_ratio,
               alpha_ratio, bullet_ratio, ellipsis_ratio, stop_hits,
               {_GOPHER_PASS} AS gopher_pass
        FROM s
    """,
    # gopher signals + quality_score + OOV rate joined doc-keyed into
    # one keep flag — every compared value is round-4 on both sides,
    # so the AND-of-thresholds is engine-exact
    "quality_ensemble": f"""
        WITH {_GOPHER_CTES},
        g AS (SELECT doc_id, {_GOPHER_PASS} AS gopher_pass FROM s),
        q AS (
            SELECT doc_id,
                   {_quality_expr_sql("text")} AS quality
            FROM documents
        ),
        arrs AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents WHERE trim(text) <> ''
        ),
        toks AS (SELECT doc_id, unnest(t) AS term FROM arrs),
        tf AS (SELECT doc_id, term FROM toks WHERE term <> ''),
        vocab AS (
            SELECT term FROM (
                SELECT term, count(*) AS c FROM tf GROUP BY term
            ) ORDER BY c DESC, term ASC LIMIT 16
        ),
        ov AS (
            SELECT doc_id,
                   round(count(*) FILTER (WHERE v.term IS NULL)
                         / count(*), 4) AS oov_rate
            FROM tf LEFT JOIN vocab v ON tf.term = v.term
            GROUP BY doc_id
        )
        SELECT g.doc_id, g.gopher_pass, q.quality, ov.oov_rate,
               (g.gopher_pass AND q.quality >= 0.6
                AND ov.oov_rate <= 0.45) AS keep
        FROM g JOIN q USING (doc_id) JOIN ov USING (doc_id)
    """,
    # C4 rules: the fixture CASE mirrors _c4_docs verbatim; line filter
    # and page flags recomputed with DuckDB list/regex functions. The
    # ' +' and '\s+' word splits are ASCII in BOTH engines' regex
    # dialects (Java default \s and DuckDB RE2), unlike Python's re.
    "c4_rules": """
        WITH fixture AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 19 = 0 THEN 'too short.'
                        ELSE substr(text, 1, 24) || '. '
                             || substr(text, 25, 24) || '. '
                             || substr(text, 49, 24) || '.'
                             || CASE WHEN doc_id % 4 = 0
                                     THEN chr(10) || 'click here'
                                     ELSE '' END
                             || CASE WHEN doc_id % 7 = 0
                                     THEN chr(10) ||
                                          'enable javascript to continue.'
                                     ELSE '' END
                             || CASE WHEN doc_id % 11 = 0
                                     THEN chr(10) ||
                                          'lorem ipsum dolor sit amet.'
                                     ELSE '' END
                             || CASE WHEN doc_id % 13 = 0
                                     THEN chr(10) ||
                                          'function() { return 1; }'
                                     ELSE '' END
                             || CASE WHEN doc_id % 17 = 0
                                     THEN chr(10) ||
                                  'this page mentions forbiddenzz here.'
                                     ELSE '' END
                             || chr(10) || substr(text, 73, 24)
                             || ' done? ok then. fine now.'
                   END AS text
            FROM documents
        ),
        cleaned AS (
            -- coalesce: DuckDB array_to_string([]) is NULL, Spark
            -- array_join(empty) is '' -- align on ''
            SELECT doc_id, text,
                   coalesce(array_to_string(
                       list_filter(
                           list_transform(
                               string_split(text, chr(10)),
                               x -> trim(x)),
                           x -> regexp_matches(x, '[.!?"]$')
                                AND len(string_split_regex(x, ' +'))
                                    >= 3
                                AND NOT contains(lower(x), 'javascript')
                       ), chr(10)), '') AS text_clean
            FROM fixture
        )
        SELECT doc_id, text_clean,
               (len(regexp_extract_all(text_clean, '[.!?]')) >= 5
                AND NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(text, '{')
                AND NOT list_has_any(
                        string_split_regex(lower(text), '\\s+'),
                        ['forbiddenzz'])) AS c4_kept
        FROM cleaned
    """,
    "repetition": """
        WITH t AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS toks,
                   list_filter(string_split(text, chr(10)),
                               x -> trim(x) <> '') AS lines
            FROM documents
        ),
        g AS (
            SELECT doc_id, lines,
                   CASE WHEN len(toks) < 2 THEN [] ELSE
                       list_transform(generate_series(1, len(toks) - 1),
                           i -> array_to_string(
                               list_slice(toks, i, i + 1), ' '))
                   END AS g2,
                   CASE WHEN len(toks) < 3 THEN [] ELSE
                       list_transform(generate_series(1, len(toks) - 2),
                           i -> array_to_string(
                               list_slice(toks, i, i + 2), ' '))
                   END AS g3
            FROM t
        )
        SELECT doc_id,
               CASE WHEN len(g2) <= 0 THEN 0.0 ELSE
                   round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                         / len(g2), 4) END AS rep_2gram,
               CASE WHEN len(g3) <= 0 THEN 0.0 ELSE
                   round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
                         / len(g3), 4) END AS rep_3gram,
               CASE WHEN len(lines) <= 0 THEN 0.0 ELSE
                   round(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
                         / len(lines), 4) END AS rep_line
        FROM g
    """,
    "pack_sequences": f"""
        WITH t AS (
            SELECT doc_id, doc_id % 8 AS shard,
                   {_ntok_sql()} AS n_tokens
            FROM documents
        )
        SELECT doc_id, shard, n_tokens,
               {_SEQ_COLS}
        FROM t
    """,
    "rollup_stats": """
        SELECT coalesce(l_returnflag, 'ALL') AS flag,
               coalesce(l_linestatus, 'ALL') AS status,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "set_ops": """
        -- parenthesized: INTERSECT binds tighter than EXCEPT in SQL,
        -- but the Spark query chains left-to-right
        SELECT c_custkey FROM (
            SELECT c_custkey FROM (
                SELECT c_custkey FROM customer
                WHERE c_mktsegment = 'AUTOMOBILE'
                UNION ALL
                SELECT c_custkey FROM customer
                WHERE c_mktsegment = 'BUILDING'
            )
            EXCEPT ALL
            SELECT c_custkey FROM customer WHERE c_acctbal < 0
        )
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0
    """,
    "events_by_day": """
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1
    """,
    # as-of oracle mirrors the union-tag + running last-non-null shape;
    # right rows sort before left at equal ts (side 0 < 1), right ties
    # break by rid. Left-row order among themselves is irrelevant (they
    # carry null payload and all see the same right prefix), so the
    # engines' opposite null-ordering defaults for the left rids don't
    # matter.
    "as_of_join": """
        WITH l AS (
            SELECT event_id, user_id, ts, 1 AS side,
                   CAST(NULL AS DOUBLE) AS marker_value,
                   CAST(NULL AS BIGINT) AS marker_id,
                   CAST(NULL AS BIGINT) AS rid
            FROM events
        ),
        r AS (
            SELECT CAST(NULL AS BIGINT) AS event_id, user_id, ts,
                   0 AS side, value AS marker_value,
                   event_id AS marker_id, event_id AS rid
            FROM events WHERE event_id % 10 = 0
        ),
        u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
        f AS (
            SELECT event_id, user_id, side,
                   last_value(marker_value IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, side, rid
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS marker_value,
                   last_value(marker_id IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, side, rid
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS marker_id
            FROM u
        )
        SELECT event_id, user_id, marker_id, marker_value
        FROM f WHERE side = 1
    """,
    "sessionize": """
        WITH o AS (
            SELECT user_id, ts, value,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                            > 1800000000
                        THEN 1 ELSE 0 END AS is_new,
                   event_id
            FROM events
        ),
        s AS (
            SELECT user_id, ts, value,
                   CAST(sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_idx
            FROM o
        )
        SELECT user_id, session_idx, count(*) AS n_events,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_ts,
               -- round-after-sum: sum(value) is order-dependent at the
               -- ulp level, so a value within ~1e-12 of a 5e-3 boundary
               -- could flip 2dp across engines (odds ~1e-10 per group;
               -- synth values are 2-decimal so sums sit ON the grid,
               -- never near a boundary). Same note applies to
               -- events_by_day's sum_value.
               round(sum(value), 2) AS sum_value
        FROM s GROUP BY user_id, session_idx
    """,
    "curation_pipeline": f"""
        WITH keep AS (
            SELECT min(doc_id) AS doc_id
            FROM documents
            GROUP BY {_FP_SQL}
        ),
        s AS (
            SELECT d.doc_id, d.text
            FROM documents d JOIN keep k ON d.doc_id = k.doc_id
        ),
        scored AS (
            SELECT doc_id,
                   {_quality_expr_sql("text")} AS quality,
                   len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> lower(t) IN ({_STOP_SQL}))) AS stop_hits
            FROM s
        )
        SELECT doc_id, quality FROM scored
        WHERE quality >= 0.5 AND stop_hits >= 2
    """,
    "doc_length_stats": """
        SELECT lang,
               round(quantile_cont(n_chars, 0.5), 4) AS p5,
               round(quantile_cont(n_chars, 0.9), 4) AS p9,
               round(quantile_cont(n_chars, 0.99), 4) AS p99,
               count(*) AS n
        FROM documents GROUP BY lang
    """,
    "vocab_topk": """
        SELECT token, count(*) AS n FROM (
            SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
                       AS token
            FROM documents
        ) WHERE token <> ''
        GROUP BY token
        ORDER BY n DESC, token ASC
        LIMIT 100
    """,
    "bm25_topk": f"""
        WITH {_TERMS_CTE},
        dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        tf AS (
            SELECT doc_id, term, count(*) AS tf FROM toks
            WHERE term IN ('hash', 'join', 'merge')
            GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        SELECT doc_id,
               round(sum(
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * (1.2 + 1.0))
                   / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
               ), 4) AS bm25,
               count(*) AS n_terms
        FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id ASC
        LIMIT 10
    """,
    "tfidf_keywords": f"""
        WITH {_TERMS_CTE},
        tf AS (
            SELECT doc_id, term, count(*) AS tf FROM toks
            WHERE term NOT IN ({_STOP_SQL})
            GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        total AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT doc_id, term,
                   round(tf * ln(n_docs / df), 4) AS tfidf
            FROM tf JOIN dfreq USING (term), total
        )
        SELECT doc_id, term, tfidf, rank FROM (
            SELECT doc_id, term, tfidf,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
                   ) AS rank
            FROM scored
        ) WHERE rank <= 3
    """,
    "domain_mix": f"""
        WITH t AS (
            SELECT doc_id, source,
                   {_ntok_sql()} AS n_tokens,
                   md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents
        ),
        tot AS (
            SELECT source, CAST(sum(n_tokens) AS BIGINT) AS domain_tokens
            FROM t GROUP BY source
        ),
        r AS (
            SELECT source, domain_tokens,
                   CAST(floor(least(1.0, 1000.0 / domain_tokens) * 65536.0)
                        AS INT) AS threshold
            FROM tot
        )
        SELECT t.doc_id, t.source, r.domain_tokens
        FROM t JOIN r USING (source)
        WHERE {_hex_sum('h', 4)}
            < r.threshold
    """,
    "winnow": f"""
        WITH {_WINNOW_CTES}
        SELECT DISTINCT doc_id, pos, u AS fp FROM sel
    """,
    "winnow_pairs": _WINNOW_PAIRS_SQL,
    "winnow_verified": f"""
        WITH wp AS ({_WINNOW_PAIRS_SQL}),
        jc AS ({_jaccard_sql(2000, cand_cte="wp")})
        SELECT wp.doc_a, wp.doc_b, jc.jaccard
        FROM wp JOIN jc ON wp.doc_a = jc.doc_a AND wp.doc_b = jc.doc_b
    """,
    "kmv_distinct": f"""
        WITH toks AS (
            SELECT source AS grp,
                   unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                       AS term
            FROM documents WHERE trim(text) <> ''
        ),
        d AS (
            SELECT grp, term, md5(term) AS h
            FROM (SELECT DISTINCT grp, term FROM toks WHERE term <> '')
        ),
        u AS (
            SELECT grp, term,
                   {_hex32('h')}
                   / 4294967296.0 AS u
            FROM d
        ),
        counts AS (SELECT grp, count(*) AS n_exact FROM u GROUP BY grp),
        kth AS (
            SELECT grp, u FROM (
                SELECT grp, u,
                       row_number() OVER (
                           PARTITION BY grp ORDER BY u ASC, term ASC
                       ) AS rn
                FROM u
            ) WHERE rn = 8
        )
        SELECT c.grp AS source, c.n_exact,
               CASE WHEN c.n_exact < 8 THEN CAST(c.n_exact AS DOUBLE)
                    ELSE round(7.0 / greatest(k.u, 1.0 / 4294967296.0), 4)
               END AS est_distinct
        FROM counts c LEFT JOIN kth k ON c.grp = k.grp
    """,
    # mirrors dedup.conv_dedup over the synthesized conv structure +
    # the mangled duplicate conversations the driver query unions in
    "conv_dedup": f"""
        WITH turns AS (
            SELECT doc_id // 10 AS conv_id, doc_id % 10 AS turn_idx,
                   text
            FROM documents
            UNION ALL
            SELECT doc_id // 10 + 1000000000, doc_id % 10,
                   upper(replace(text, ' ', '  '))
            FROM documents WHERE doc_id // 10 < 5
        ),
        canon AS (
            -- per-turn md5 BEFORE the concat mirrors the operator's
            -- bounded-row fingerprint (33 bytes/turn, never raw text)
            SELECT conv_id, turn_idx,
                   {_FP_SQL} AS h
            FROM turns
        ),
        fps AS (
            -- tie-break on h mirrors sort_array over (idx, turn_md5)
            -- structs: duplicate turn_idx rows concatenate in a
            -- deterministic order on both engines
            SELECT conv_id,
                   md5(string_agg(h, chr(10) ORDER BY turn_idx, h)) AS fp
            FROM canon GROUP BY conv_id
        )
        SELECT fp, min(conv_id) AS keep_conv, count(*) AS n_dups
        FROM fps GROUP BY fp
    """,
    # mirrors textops.pack_conversations (max_tokens=300) over the
    # synthesized conv structure: the greedy fold as a recursive CTE
    # (chunk/fill state propagated turn by turn within each conv)
    # concat_ws skips NULL lags in BOTH engines, so conversation-start
    # contexts shorten identically; chr(10) = the operator's '\n'
    "sft_examples": f"""
        WITH {_SFT_CTES}
        SELECT conv_id, turn_idx,
               (CASE WHEN c3 IS NULL THEN 0 ELSE 1 END
              + CASE WHEN c2 IS NULL THEN 0 ELSE 1 END
              + CASE WHEN c1 IS NULL THEN 0 ELSE 1 END) AS n_ctx,
               concat_ws(chr(10), c3, c2, c1) AS context,
               text AS target
        FROM lagged WHERE role = 'assistant'
    """,
    # sft_examples CTEs + rendering + the pack_sequences shard-window
    # cumsum, composed verbatim; nullif('') keeps conversation-opening
    # targets from leading with the blank-line separator
    "sft_pipeline": f"""
        WITH {_SFT_CTES},
        ex AS (
            SELECT conv_id * 4 + (turn_idx - 1) // 2 AS doc_id,
                   concat_ws(chr(10) || chr(10),
                             nullif(concat_ws(chr(10), c3, c2, c1), ''),
                             text) AS text
            FROM lagged WHERE role = 'assistant'
        ),
        tk AS (
            SELECT doc_id, doc_id % 8 AS shard,
                   {_ntok_sql()} AS n_tokens
            FROM ex
        )
        SELECT doc_id, shard, n_tokens,
               {_SEQ_COLS}
        FROM tk
    """,
    # sft_pipeline + the ctx-token carry: n_tokens of the rendered
    # text and ctx_tokens of the bare context are independent
    # whitespace counts whose sum property the operator pytest pins
    "sft_spans": f"""
        WITH {_SFT_CTES},
        ex AS (
            SELECT conv_id * 4 + (turn_idx - 1) // 2 AS doc_id,
                   concat_ws(chr(10), c3, c2, c1) AS ctx,
                   concat_ws(chr(10) || chr(10),
                             nullif(concat_ws(chr(10), c3, c2, c1), ''),
                             text) AS rendered
            FROM lagged WHERE role = 'assistant'
        ),
        tk AS (
            SELECT doc_id, doc_id % 8 AS shard,
                   {_ntok_sql('rendered')} AS n_tokens,
                   {_ntok_sql('ctx')} AS ctx_tokens
            FROM ex
        ),
        p AS (
            SELECT doc_id, shard, n_tokens, ctx_tokens,
                   {_SEQ_COLS}
            FROM tk
        )
        SELECT doc_id, shard, n_tokens, ctx_tokens,
               n_tokens - ctx_tokens AS tgt_tokens,
               seq_idx, seq_offset,
               CAST(seq_idx * 512 + seq_offset + ctx_tokens AS BIGINT)
                   AS tgt_start,
               CAST(seq_idx * 512 + seq_offset + n_tokens AS BIGINT)
                   AS tgt_end
        FROM p
    """,
    "pack_conversations": f"""
        WITH RECURSIVE t0 AS (
            SELECT doc_id // 10 AS conv_id, doc_id % 10 AS turn_idx,
                   {_ntok_sql()} AS n
            FROM documents
        ),
        t AS (
            SELECT conv_id, turn_idx, n,
                   row_number() OVER (
                       PARTITION BY conv_id ORDER BY turn_idx) AS rn
            FROM t0
        ),
        pack AS (
            SELECT conv_id, rn, turn_idx, n, 0 AS chunk, n AS fill
            FROM t WHERE rn = 1
            UNION ALL
            -- fill > 0 guard mirrors the Spark fold: a chunk opened by
            -- zero-token turns absorbs even an oversized next turn
            SELECT t.conv_id, t.rn, t.turn_idx, t.n,
                   CASE WHEN p.fill > 0 AND p.fill + t.n > 300
                        THEN p.chunk + 1 ELSE p.chunk END,
                   CASE WHEN p.fill > 0 AND p.fill + t.n > 300
                        THEN t.n ELSE p.fill + t.n END
            FROM pack p JOIN t
              ON t.conv_id = p.conv_id AND t.rn = p.rn + 1
        )
        SELECT conv_id, turn_idx, CAST(n AS BIGINT) AS n_tokens,
               CAST(chunk AS BIGINT) AS chunk_idx
        FROM pack
    """,
    # mirrors q_ccnet_buckets: unigram LM score -> corpus terciles
    # (quantile_cont == Spark exact percentile), thresholds rounded 4dp
    # both engines before the comparison
    "ccnet_buckets": f"""
        WITH {_TERMS_CTE},
        tf AS (SELECT term, count(*) AS tf FROM toks GROUP BY term),
        tot AS (SELECT CAST(sum(tf) AS BIGINT) AS t FROM tf),
        lpt AS (SELECT term, ln(tf / t) AS logp FROM tf, tot),
        lp AS (
            SELECT doc_id, round(sum(logp) / count(*), 4) AS avg_logprob
            FROM toks JOIN lpt USING (term)
            GROUP BY doc_id
        ),
        thr AS (
            SELECT round(quantile_cont(avg_logprob, 0.3333), 4) AS q1,
                   round(quantile_cont(avg_logprob, 0.6667), 4) AS q2
            FROM lp
        )
        SELECT doc_id, avg_logprob,
               CASE WHEN avg_logprob >= q2 THEN 'head'
                    WHEN avg_logprob >= q1 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM lp, thr
    """,
    "unigram_logprob": f"""
        WITH {_TERMS_CTE},
        tf AS (SELECT term, count(*) AS tf FROM toks GROUP BY term),
        tot AS (SELECT CAST(sum(tf) AS BIGINT) AS t FROM tf),
        lp AS (SELECT term, ln(tf / t) AS logp FROM tf, tot)
        SELECT doc_id, count(*) AS n_tokens,
               round(sum(logp) / count(*), 4) AS avg_logprob
        FROM toks JOIN lp USING (term)
        GROUP BY doc_id
    """,
    # mirrors textops.dsir_sample (10,000 buckets, add-one, k=100,
    # target = doc_id % 7 == 0): hashed uni+bigram buckets, add-1
    # smoothed target/raw log-ratio, per-doc sum, deterministic Gumbel
    # top-k
    # mirrors textops.nb_quality (10,000 buckets, add-one) over the
    # pos / md5-gibberish-neg / scored fixture of q_nb_quality
    "nb_quality": f"""
        WITH pos AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 5 = 1
        ),
        neg AS (
            SELECT doc_id, {_GIB_SQL} AS text
            FROM documents WHERE doc_id % 5 = 2
        ),
        scored AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000000, {_GIB_SQL}
            FROM documents WHERE doc_id < 50
        ),
        {_feats_sql('pos', 'p')},
        {_feats_sql('neg', 'n')},
        {_feats_sql('scored', 'd')},
        cp AS (SELECT bucket, count(*) AS c_p FROM ftp GROUP BY bucket),
        cn AS (SELECT bucket, count(*) AS c_n FROM ftn GROUP BY bucket),
        tpt AS (SELECT count(*) AS tp FROM ftp),
        tnt AS (SELECT count(*) AS tn FROM ftn),
        pri AS (
            SELECT ln((SELECT count(*) FROM pos)
                      / (SELECT count(*) FROM neg)) AS prior
        ),
        llr AS (
            SELECT r.i AS bucket,
                   ln((coalesce(cp.c_p, 0) + 1.0) / (tp + 10000.0))
                 - ln((coalesce(cn.c_n, 0) + 1.0) / (tn + 10000.0))
                       AS llr
            FROM (SELECT unnest(range(0, 10000)) AS i) r
            LEFT JOIN cp ON cp.bucket = r.i
            LEFT JOIN cn ON cn.bucket = r.i, tpt, tnt
        ),
        s AS (
            SELECT doc_id, count(*) AS n_features, sum(llr) AS s
            FROM ftd JOIN llr USING (bucket) GROUP BY doc_id
        )
        SELECT doc_id, n_features,
               round(s + prior, 4) AS log_odds,
               (round(s + prior, 4) >= 0) AS pred_clean
        FROM s, pri
    """,
    "dsir_select": f"""
        WITH raw_toks AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents WHERE trim(text) <> ''
        ),
        uni AS (SELECT doc_id, unnest(t) AS f FROM raw_toks),
        big AS (
            SELECT doc_id, t[r.i + 1] AS a, t[r.i + 2] AS b
            FROM raw_toks, unnest(range(0, len(t) - 1)) AS r(i)
            WHERE len(t) >= 2
        ),
        feats0 AS (
            SELECT doc_id, f FROM uni WHERE f <> ''
            UNION ALL
            SELECT doc_id, a || ' ' || b AS f FROM big
            WHERE a <> '' AND b <> ''
        ),
        featsr AS (
            SELECT doc_id, {_hex32("h")} % 10000 AS bucket
            FROM (SELECT doc_id, md5(f) AS h FROM feats0)
        ),
        featst AS (SELECT * FROM featsr WHERE doc_id % 7 = 0),
        cr AS (SELECT bucket, count(*) AS c_r FROM featsr GROUP BY bucket),
        ct AS (SELECT bucket, count(*) AS c_t FROM featst GROUP BY bucket),
        tr AS (SELECT count(*) AS tr FROM featsr),
        tt AS (SELECT count(*) AS tt FROM featst),
        ratio AS (
            SELECT cr.bucket,
                   ln(((coalesce(ct.c_t, 0) + 1.0) / (tt + 10000.0))
                      / ((cr.c_r + 1.0) / (tr + 10000.0))) AS logr
            FROM cr LEFT JOIN ct USING (bucket), tr, tt
        ),
        w AS (
            SELECT doc_id, count(*) AS n_features,
                   round(sum(logr), 4) AS logw
            FROM featsr JOIN ratio USING (bucket)
            GROUP BY doc_id
        ),
        keyed AS (
            SELECT doc_id, n_features, logw,
                   round(logw - ln(-ln(
                       ({_hex32("gh")} + 0.5) / 4294967296.0)), 4) AS key
            FROM (SELECT w.*, md5('g#' || doc_id) AS gh FROM w)
        )
        SELECT doc_id, n_features, logw, key
        FROM keyed ORDER BY key DESC, doc_id ASC LIMIT 100
    """,
    # mirrors urlops.with_canonical_url/domain_filter + min-id groups over the
    # same synthesized url column (doc_id div/mod arithmetic)
    "url_curation": """
        WITH u AS (
            SELECT doc_id,
                   (CASE (doc_id // 30) % 3
                        WHEN 0 THEN 'http://'
                        WHEN 1 THEN 'https://'
                        ELSE 'HTTPS://' END)
                || CASE WHEN (doc_id // 30) % 2 = 0
                        THEN 'www.' ELSE '' END
                || 'site' || CAST((doc_id % 30) % 10 AS VARCHAR)
                || '.example' || CAST((doc_id % 30) % 2 AS VARCHAR)
                || '.com'
                || CASE WHEN (doc_id // 30) % 5 = 0
                        THEN ':443' ELSE '' END
                || '/p' || CAST((doc_id % 30) % 3 AS VARCHAR)
                || CASE WHEN (doc_id // 30) % 4 = 0
                        THEN '/' ELSE '' END
                || CASE WHEN (doc_id // 30) % 2 = 0
                        THEN '?a=' || CAST((doc_id % 30) % 5 AS VARCHAR)
                          || '&b=' || CAST((doc_id % 30) % 3 AS VARCHAR)
                        ELSE '?b=' || CAST((doc_id % 30) % 3 AS VARCHAR)
                          || '&a=' || CAST((doc_id % 30) % 5 AS VARCHAR)
                          || '&utm_source=feed' END
                || CASE WHEN (doc_id // 30) % 3 = 0
                        THEN '#sec' ELSE '' END AS url
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(trim(url), '#.*$', ''),
                       '^[a-zA-Z][a-zA-Z0-9+.\\-]*://', '') AS s2
            FROM u
        ),
        parts AS (
            SELECT doc_id,
                   regexp_extract(s2, '^[^?]*') AS base,
                   CASE WHEN strpos(s2, '?') > 0
                        THEN regexp_replace(s2, '^[^?]*\\?', '')
                        ELSE '' END AS query
            FROM s
        ),
        c AS (
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(
                           lower(regexp_extract(base, '^[^/]*')),
                           '^www\\.', ''),
                       ':(80|443)$', '') AS host,
                   regexp_replace(
                       regexp_extract(base, '^[^/]*(/.*)?$', 1),
                       '/+$', '') AS path,
                   array_to_string(list_sort(list_filter(
                       string_split(query, '&'),
                       x -> x <> '' AND NOT starts_with(x, 'utm_')
                            AND x <> 'fbclid'
                            AND NOT starts_with(x, 'fbclid=')
                            AND x <> 'gclid'
                            AND NOT starts_with(x, 'gclid='))), '&') AS q
            FROM parts
        ),
        canon AS (
            SELECT doc_id, host,
                   host || path
                        || CASE WHEN q <> '' THEN '?' || q ELSE '' END
                       AS canonical_url,
                   (host = 'example0.com'
                    OR suffix(host, '.example0.com')) AS blocked
            FROM c
        )
        SELECT canonical_url, host, blocked,
               min(doc_id) AS keep_id, count(*) AS n_dups
        FROM canon GROUP BY 1, 2, 3
    """,
    # url_category / url_decontaminate: the oracle derives the expected
    # CANONICAL form arithmetically (the canonical chain itself is
    # value-pinned by url_curation's oracle), then applies the same
    # first-match-wins category CASE / eval-set cut.
    "url_category": """
        SELECT doc_id,
               'site' || CAST(doc_id % 10 AS VARCHAR) || '.example.com/'
                 || (CASE WHEN doc_id % 77 = 0 THEN 'casino-xxx'
                          WHEN doc_id % 7 = 0 THEN 'casino'
                          WHEN doc_id % 11 = 0 THEN 'xxx-zone'
                          ELSE 'news' END)
                 || '/page?x=1' AS canonical_url,
               CASE WHEN regexp_matches(
                        'site' || CAST(doc_id % 10 AS VARCHAR)
                        || '.example.com/'
                        || (CASE WHEN doc_id % 77 = 0 THEN 'casino-xxx'
                                 WHEN doc_id % 7 = 0 THEN 'casino'
                                 WHEN doc_id % 11 = 0 THEN 'xxx-zone'
                                 ELSE 'news' END) || '/page?x=1',
                        'xxx') THEN 'adult'
                    WHEN regexp_matches(
                        'site' || CAST(doc_id % 10 AS VARCHAR)
                        || '.example.com/'
                        || (CASE WHEN doc_id % 77 = 0 THEN 'casino-xxx'
                                 WHEN doc_id % 7 = 0 THEN 'casino'
                                 WHEN doc_id % 11 = 0 THEN 'xxx-zone'
                                 ELSE 'news' END) || '/page?x=1',
                        'casino|poker') THEN 'gambling'
                    ELSE 'ok' END AS url_category,
               (doc_id % 7 = 0 OR doc_id % 11 = 0) AS url_blocked
        FROM documents
    """,
    "url_decontaminate": """
        SELECT doc_id,
               's' || CAST(doc_id % 20 AS VARCHAR) || '.example.org/a'
                 || CAST(doc_id AS VARCHAR)
                 || '?q=' || CAST(doc_id % 5 AS VARCHAR)
                   AS canonical_url
        FROM documents WHERE doc_id % 13 <> 0
    """,
    # mirrors textops.bigram_logprob (lam=0.7): interpolated bigram LM
    # trained on the corpus, scored per doc; / on BIGINTs is float
    # division in DuckDB, matching Spark's Column /
    "bigram_logprob": f"""
        WITH {_BIGRAM_CTES},
        cleft AS (
            SELECT term_a, CAST(sum(c_ab) AS BIGINT) AS c_left
            FROM cab GROUP BY 1
        ),
        toks AS (SELECT unnest(t) AS term FROM arrs),
        uni AS (
            SELECT term, count(*) AS c FROM toks
            WHERE term <> '' GROUP BY term
        ),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM uni),
        prob AS (
            SELECT cab.term_a, cab.term_b,
                   -- (1.0 - 0.7) NOT the literal 0.3: Python's
                   -- 1.0 - 0.7 is 0x3FD3333333333334 (one ulp above
                   -- the 0.3 literal) and the operator uses
                   -- F.lit(1.0 - lam); both engines must compute the
                   -- SAME IEEE subtraction
                   ln(0.7 * (c_ab / c_left) + (1.0 - 0.7) * (c / tt))
                       AS logp
            FROM cab JOIN cleft USING (term_a)
            JOIN uni ON uni.term = cab.term_b, tot
        )
        SELECT doc_id, count(*) AS n_bigrams,
               round(sum(logp) / count(*), 4) AS avg_logprob2
        FROM bf JOIN prob USING (term_a, term_b)
        GROUP BY doc_id
    """,
    # term-level contributions mirror the operator expression shape;
    # cross-engine agg-order residual absorbed by round-6 (sum of
    # O(10^3) O(1e-3) terms sits ~1e-12 from a boundary at worst)
    "js_divergence": """
        WITH toks AS (
            SELECT source AS g,
                   unnest(regexp_split_to_array(lower(trim(text)),
                                                '\\s+')) AS term
            FROM documents WHERE source IN ('src0', 'src1')
        ),
        tf AS (SELECT g, term FROM toks WHERE term <> ''),
        counts AS (
            SELECT term,
                   count(*) FILTER (WHERE g = 'src0') AS ca,
                   count(*) FILTER (WHERE g = 'src1') AS cb
            FROM tf GROUP BY term
        ),
        tots AS (SELECT sum(ca) AS ta, sum(cb) AS tb FROM counts),
        terms AS (
            SELECT ca / ta AS p, cb / tb AS q, ta, tb
            FROM counts, tots
        )
        SELECT 'src0' AS group_a, 'src1' AS group_b,
               count(*) AS n_vocab,
               CAST(max(ta) AS BIGINT) AS tokens_a,
               CAST(max(tb) AS BIGINT) AS tokens_b,
               round(sum(0.5 * (
                   CASE WHEN p > 0
                        THEN p * ln(p / ((p + q) / 2.0))
                        ELSE 0.0 END
                 + CASE WHEN q > 0
                        THEN q * ln(q / ((p + q) / 2.0))
                        ELSE 0.0 END)), 6) AS jsd
        FROM terms
    """,
    "oov_rate": """
        WITH arrs AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents WHERE trim(text) <> ''
        ),
        toks AS (
            SELECT doc_id, unnest(t) AS term FROM arrs
        ),
        tf AS (SELECT doc_id, term FROM toks WHERE term <> ''),
        vocab AS (
            SELECT term FROM (
                SELECT term, count(*) AS c FROM tf GROUP BY term
            ) ORDER BY c DESC, term ASC LIMIT 16
        )
        SELECT doc_id, count(*) AS n_tokens,
               count(*) FILTER (WHERE v.term IS NULL) AS n_oov,
               round(count(*) FILTER (WHERE v.term IS NULL)
                     / count(*), 4) AS oov_rate
        FROM tf LEFT JOIN vocab v ON tf.term = v.term
        GROUP BY doc_id
    """,
    # Kneser-Ney: same bigram stream; D = 0.75 is exactly binary-
    # representable so the literal is portable as written; the
    # arithmetic mirrors the operator's expression structure term by
    # term (greatest/max, the (D * n_cont / c_left) grouping)
    "kn_logprob": f"""
        WITH {_BIGRAM_CTES},
        cleft AS (
            SELECT term_a, CAST(sum(c_ab) AS BIGINT) AS c_left,
                   count(*) AS n_cont
            FROM cab GROUP BY 1
        ),
        cright AS (
            SELECT term_b, count(*) AS n_left FROM cab GROUP BY 1
        ),
        bt AS (SELECT count(*) AS b_types FROM cab),
        prob AS (
            SELECT cab.term_a, cab.term_b,
                   ln(greatest(CAST(c_ab AS DOUBLE) - 0.75, 0.0)
                          / c_left
                      + (0.75 * n_cont / c_left)
                        * (CAST(n_left AS DOUBLE) / b_types)) AS logp
            FROM cab JOIN cleft USING (term_a)
            JOIN cright USING (term_b), bt
        )
        SELECT doc_id, count(*) AS n_bigrams,
               round(sum(logp) / count(*), 4) AS avg_kn_logprob
        FROM bf JOIN prob USING (term_a, term_b)
        GROUP BY doc_id
    """,
    "pmi_bigrams": """
        WITH arrs AS (
            SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents WHERE trim(text) <> ''
        ),
        big0 AS (
            SELECT unnest([t[i + 1] || chr(9) || t[i + 2]
                           for i in range(0, len(t) - 1)]) AS bg
            FROM arrs WHERE len(t) >= 2
        ),
        big AS (
            SELECT split_part(bg, chr(9), 1) AS term_a,
                   split_part(bg, chr(9), 2) AS term_b
            FROM big0
        ),
        cab AS (
            SELECT term_a, term_b, count(*) AS c_ab FROM big
            WHERE term_a <> '' AND term_b <> ''
            GROUP BY term_a, term_b
        ),
        btot AS (SELECT CAST(sum(c_ab) AS BIGINT) AS b FROM cab),
        uni AS (
            SELECT term, count(*) AS c
            FROM (SELECT unnest(t) AS term FROM arrs)
            WHERE term <> '' GROUP BY term
        ),
        ttot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM uni)
        SELECT term_a, term_b, c_ab, pmi FROM (
            SELECT term_a, term_b, c_ab,
                   round(ln((c_ab / b)
                            / ((ua.c / t) * (ub.c / t))), 4) AS pmi
            FROM cab
            JOIN uni ua ON ua.term = cab.term_a
            JOIN uni ub ON ub.term = cab.term_b, btot, ttot
            WHERE c_ab >= 5
        )
        ORDER BY pmi DESC, term_a, term_b
        LIMIT 50
    """,
    "cosine_topk": f"""
        {_cos_top5_sql("embeddings q CROSS JOIN embeddings e")}
    """,
    "ann_lsh": f"""
        WITH b AS (
            SELECT vec_id, embedding,
                   {_SIGN_BUCKET}
                   AS bucket
            FROM embeddings
        )
        {_cos_top5_sql("b q JOIN b e ON q.bucket = e.bucket")}
    """,
    "cosine_near_dup": f"""
        WITH b AS (
            SELECT vec_id, embedding,
                   {_SIGN_BUCKET}
                   AS bucket
            FROM embeddings
        )
        SELECT doc_a, doc_b, cos FROM (
            SELECT a.vec_id AS doc_a, e.vec_id AS doc_b,
                   round(list_cosine_similarity(
                       a.embedding::DOUBLE[], e.embedding::DOUBLE[]), 4)
                       AS cos
            FROM b a JOIN b e
              ON a.bucket = e.bucket AND a.vec_id < e.vec_id
        ) WHERE cos >= 0.3
    """,
    "semantic_dedup": f"""
        WITH b AS (
            SELECT vec_id, embedding,
                   {_SIGN_BUCKET}
                   AS bucket
            FROM embeddings
        ),
        losers AS (
            SELECT DISTINCT doc_b AS doc_id FROM (
                SELECT a.vec_id AS doc_a, e.vec_id AS doc_b,
                       round(list_cosine_similarity(
                           a.embedding::DOUBLE[], e.embedding::DOUBLE[]),
                           4) AS cos
                FROM b a JOIN b e
                  ON a.bucket = e.bucket AND a.vec_id < e.vec_id
            ) WHERE cos >= 0.3
        )
        SELECT doc_id, source, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """,
    "pq_encode": f"""
        WITH {_PQ_CTES}
        SELECT vec_id, s AS sub, code FROM a1
    """,
    # ADC scan: per-(query, vector, subspace) LUT terms, summed in
    # ascending-s order (list_sum over list(.. ORDER BY s) = the same
    # left-to-right 4-term fold as the Spark column sum), then the
    # cosine_topk rank. n1/t/t2 inner products differ from Spark's
    # unrolled folds by at most summation-order ulps — absorbed by the
    # round-4 (the module-wide cosine policy).
    "ann_pq": f"""
        WITH {_PQ_CTES},
        q AS (SELECT vec_id AS q_id, emb AS q_emb,
                     sqrt(list_inner_product(emb, emb)) AS n1
              FROM e WHERE vec_id < 10),
        {_PQ_QSUB_CTE},
        terms AS (SELECT qs.q_id, a.vec_id, qs.s, qs.n1,
                         list_inner_product(qs.qv, c.cent) AS t,
                         list_inner_product(c.cent, c.cent) AS t2
                  FROM qsub qs
                  JOIN a1 a ON qs.s = a.s
                  JOIN c1 c ON c.s = a.s AND c.code = a.code
                  WHERE qs.q_id <> a.vec_id),
        {_pq_rerank_sql(100)}
    """,
    # IVF+PQ composition: the ann_ivf assignment/probe CTEs bound the
    # pair set (cand), the ann_pq training CTEs + ADC terms score it,
    # the top-50 shortlist re-ranks by exact cosine. Same round-4
    # ulp-absorption policy as both parents.
    "ann_ivf_pq": f"""
        WITH {_PQ_CTES},
        cc AS (SELECT vec_id AS cid, emb AS cent
               FROM e ORDER BY vec_id LIMIT 32),
        assign AS (
            SELECT vec_id, cid FROM (
                SELECT a.vec_id, c.cid,
                       row_number() OVER (PARTITION BY a.vec_id
                           ORDER BY round(list_cosine_similarity(
                               a.emb, c.cent), 4) DESC, c.cid) AS rn
                FROM e a CROSS JOIN cc c) WHERE rn = 1
        ),
        q AS (SELECT vec_id AS q_id, emb AS q_emb,
                     sqrt(list_inner_product(emb, emb)) AS n1
              FROM e WHERE vec_id < 10),
        probes AS (
            SELECT q_id, cid FROM (
                SELECT q.q_id, c.cid,
                       row_number() OVER (PARTITION BY q.q_id
                           ORDER BY round(list_cosine_similarity(
                               q.q_emb, c.cent), 4) DESC, c.cid) AS rn
                FROM q CROSS JOIN cc c) WHERE rn <= 4
        ),
        cand AS (SELECT p.q_id, s.vec_id
                 FROM probes p JOIN assign s USING (cid)
                 WHERE p.q_id <> s.vec_id),
        {_PQ_QSUB_CTE},
        terms AS (SELECT cd.q_id, cd.vec_id, qs.s, qs.n1,
                         list_inner_product(qs.qv, c.cent) AS t,
                         list_inner_product(c.cent, c.cent) AS t2
                  FROM cand cd
                  JOIN qsub qs ON qs.q_id = cd.q_id
                  JOIN a1 a ON a.vec_id = cd.vec_id AND qs.s = a.s
                  JOIN c1 c ON c.s = a.s AND c.code = a.code),
        {_pq_rerank_sql(50)}
    """,
    "kmeans_clusters": f"""
        WITH {_KMEANS_CTES}
        {_KMEANS_ASG}
    """,
    "semantic_dedup_kmeans": f"""
        WITH {_KMEANS_CTES},
        af AS (
            SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY round(list_cosine_similarity(
                                        e.emb, c.cent), 4) DESC,
                                    c.cid) AS rk
                FROM e CROSS JOIN c2 c) WHERE rk = 1
        ),
        {_SEMDEDUP_LOSERS_CTES}
        SELECT doc_id, source, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """,
    # D4: the same kmeans CTEs + SemDeDup losers, then the prototype
    # cut — row_number over (cos DESC, vec_id) per cluster, drop rank
    # <= floor(0.2 * survivors). CAST AS DOUBLE so the cut multiply is
    # the identical IEEE double both engines (DuckDB's bare 0.2 is
    # DECIMAL arithmetic).
    "d4_select": f"""
        WITH {_KMEANS_CTES},
        af AS (
            {_KMEANS_ASG}
        ),
        {_SEMDEDUP_LOSERS_CTES},
        surv AS (
            SELECT vec_id, cid, cos FROM af
            WHERE vec_id NOT IN (SELECT doc_id FROM losers)
        ),
        ranked AS (
            SELECT vec_id,
                   row_number() OVER (PARTITION BY cid
                       ORDER BY cos DESC, vec_id) AS rk,
                   count(*) OVER (PARTITION BY cid) AS n
            FROM surv
        ),
        protos AS (
            SELECT vec_id AS doc_id FROM ranked
            WHERE rk <= floor(CAST(0.2 AS DOUBLE) * n)
        ),
        dropped AS (
            SELECT doc_id FROM losers UNION SELECT doc_id FROM protos
        )
        SELECT doc_id, source, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
    "group_topk": """
        SELECT l_returnflag, l_orderkey, l_linenumber, price, rank FROM (
            SELECT l_returnflag, l_orderkey, l_linenumber,
                   round(l_extendedprice, 2) AS price,
                   row_number() OVER (
                       PARTITION BY l_returnflag
                       ORDER BY l_extendedprice DESC, l_orderkey,
                                l_linenumber) AS rank
            FROM lineitem
        ) WHERE rank <= 3
    """,
    "revenue_by_nation": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "extract_plain_route": _EXTRACT_ROUTE_SQL,
    "extract_html_route": _EXTRACT_ROUTE_SQL,
    "extract_pdf_route": _EXTRACT_ROUTE_SQL,
    "media_decode": """
        SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
               CAST(strlen(text) % 1000 + 1 AS INT) AS width,
               CAST((strlen(text) * 7) % 1000 + 1 AS INT) AS height
        FROM documents
    """,
    "media_frames": """
        SELECT doc_id, CAST(i AS INT) AS frame_idx,
               CAST(least(64, strlen(text) - i*64) AS INT) AS frame_len
        FROM documents,
             unnest(range(0, CAST(ceil(strlen(text)/64.0) AS BIGINT))) AS t(i)
    """,
    # media_features: byte-stripe means of the UTF-8 body, recomputed in
    # SQL via hex(encode(text)); float32 cast on both sides so the values
    # compare bit-identically (kernel stores array<float>)
    "media_features": _MEDIA_FEATURES_SQL,
    "media_near_dup": f"""
        WITH feats AS ({_MEDIA_FEATURES_SQL}),
        emb AS (
            SELECT doc_id AS vec_id,
                   [CAST(f0 AS DOUBLE) - 0.5, CAST(f1 AS DOUBLE) - 0.5,
                    CAST(f2 AS DOUBLE) - 0.5, CAST(f3 AS DOUBLE) - 0.5,
                    CAST(f4 AS DOUBLE) - 0.5, CAST(f5 AS DOUBLE) - 0.5,
                    CAST(f6 AS DOUBLE) - 0.5, CAST(f7 AS DOUBLE) - 0.5]
                       AS embedding
            FROM feats
        ),
        bk AS (
            SELECT vec_id, embedding,
                   {_SIGN_BUCKET}
                   AS bucket
            FROM emb
        )
        SELECT q_id, vec_id, cos, rank FROM (
            SELECT q.vec_id AS q_id, e.vec_id,
                   round(list_cosine_similarity(q.embedding, e.embedding),
                         4) AS cos,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(
                                    q.embedding, e.embedding), 4) DESC,
                                e.vec_id) AS rank
            FROM bk q JOIN bk e ON q.bucket = e.bucket
            WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
        ) WHERE rank <= 5
    """,
}

# The bloom-prefilter path must produce the IDENTICAL two-phase result:
# same oracle, separate gate key -> a hash mismatch would mean the bloom
# routed a row wrong (it cannot, by construction -- this pins it).
ORACLES["incremental_dedup_bloom"] = ORACLES["incremental_dedup"]

ORACLES["pagerank"] = _pagerank_sql(3, 0.85)

# cms_topk: the sketch counters are integer sums over the tf relation,
# so the whole estimate is exact integer arithmetic — the only contract
# items are the md5-prefix bucket arithmetic (the shard-oracle '0x'||hex
# cast) and CAST(sum AS BIGINT) (DuckDB sum(BIGINT) is HUGEINT -> pandas
# float, kind mismatch otherwise).
ORACLES["cms_topk"] = r"""
WITH toks AS (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
               AS term
    FROM documents),
tf AS (SELECT term, count(*) AS cnt FROM toks WHERE term <> ''
       GROUP BY term),
h AS (SELECT term, cnt, r.r,
             CAST('0x' || substr(md5(concat(r.r, '|', term)), 1, 8)
                  AS BIGINT) % 8 AS bucket
      FROM tf CROSS JOIN (SELECT unnest(range(0, 3)) AS r) r),
sketch AS (SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS counter
           FROM h GROUP BY r, bucket)
SELECT h.term, min(s.counter) AS est, min(h.cnt) AS n_exact
FROM h JOIN sketch s ON h.r = s.r AND h.bucket = s.bucket
GROUP BY h.term
ORDER BY est DESC, h.term ASC
LIMIT 20
"""

# zipf_fit: the five sufficient sums feed the SAME closed-form
# expression shapes Spark evaluates (num/denx etc.), outputs float32-
# cast; degenerate variance -> NULL via CASE on both engines.
ORACLES["zipf_fit"] = r"""
WITH toks AS (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
               AS term
    FROM documents),
tf AS (SELECT term, count(*) AS cnt FROM toks WHERE term <> ''
       GROUP BY term ORDER BY cnt DESC, term ASC LIMIT 100),
xy AS (SELECT
           ln(CAST(row_number() OVER (ORDER BY cnt DESC, term ASC)
                   AS DOUBLE)) AS x,
           ln(CAST(cnt AS DOUBLE)) AS y
       FROM tf),
sums AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
                sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                sum(x * x) AS sxx, sum(y * y) AS syy
         FROM xy),
t AS (SELECT nd, sx, sy,
             nd * sxy - sx * sy AS num,
             nd * sxx - sx * sx AS denx,
             nd * syy - sy * sy AS deny
      FROM sums)
SELECT CAST(nd AS BIGINT) AS n_ranks,
       CAST(CASE WHEN denx <> 0 THEN num / denx END AS FLOAT) AS slope,
       CAST((sy - (CASE WHEN denx <> 0 THEN num / denx END) * sx) / nd
            AS FLOAT) AS intercept,
       CAST(CASE WHEN denx <> 0 AND deny <> 0
                 THEN (num * num) / (denx * deny) END
            AS FLOAT) AS r2
FROM t
"""

ORACLES["corpus_diff"] = """
WITH oldc AS (SELECT doc_id, md5(coalesce(text, '')) AS fp
              FROM documents),
nb AS (SELECT doc_id,
              CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                   ELSE text END AS text
       FROM documents WHERE doc_id % 10 <> 0),
ad AS (SELECT doc_id + 1000000000 AS doc_id, text FROM documents
       WHERE doc_id % 5 = 0),
newc AS (SELECT doc_id, md5(coalesce(text, '')) AS fp
         FROM (SELECT * FROM nb UNION ALL SELECT * FROM ad))
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.fp IS NULL THEN 'added'
            WHEN n.fp IS NULL THEN 'removed'
            WHEN o.fp <> n.fp THEN 'changed'
            ELSE 'unchanged' END AS status
FROM oldc o FULL JOIN newc n ON o.doc_id = n.doc_id
"""


def _bm25_rank_cte(terms: tuple[str, ...], tag: str, limit: int) -> str:
    """CTE chain ending in bm{tag}(doc_id, rank): the bm25_topk oracle
    arithmetic verbatim (round-4 score, (score desc, doc_id) order),
    reduced to its rank integers for RRF fusion."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""tf{tag} AS (
    SELECT doc_id, term, count(*) AS tf FROM toks
    WHERE term IN ({in_list})
    GROUP BY doc_id, term),
dfreq{tag} AS (SELECT term, count(*) AS df FROM tf{tag} GROUP BY term),
sc{tag} AS (
    SELECT doc_id,
           round(sum(
               ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * (1.2 + 1.0))
               / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
           ), 4) AS bm25
    FROM tf{tag} JOIN dfreq{tag} USING (term) JOIN dl USING (doc_id),
         stats
    GROUP BY doc_id),
bm{tag} AS (
    SELECT doc_id, rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
                   AS rank
        FROM sc{tag}) WHERE rank <= {limit})"""


ORACLES["rrf_fusion"] = f"""
WITH {_TERMS_CTE},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
{_bm25_rank_cte(('hash', 'join', 'merge'), 'a', 30)},
{_bm25_rank_cte(('merge', 'sort', 'scan'), 'b', 30)},
cosr AS (
    SELECT vec_id AS doc_id, rank FROM (
        SELECT e.vec_id,
               row_number() OVER (
                   ORDER BY round(list_cosine_similarity(
                                q.embedding::DOUBLE[],
                                e.embedding::DOUBLE[]), 4) DESC,
                            e.vec_id) AS rank
        FROM embeddings q CROSS JOIN embeddings e
        WHERE q.vec_id = 0 AND e.vec_id <> q.vec_id
    ) WHERE rank <= 30),
uni AS (
    SELECT doc_id, rank FROM bma
    UNION ALL SELECT doc_id, rank FROM bmb
    UNION ALL SELECT doc_id, rank FROM cosr)
SELECT doc_id,
       CAST(sum(CAST(1.0 AS DOUBLE)
                / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE)))
            AS FLOAT) AS rrf,
       count(*) AS n_lists
FROM uni GROUP BY doc_id
ORDER BY rrf DESC, doc_id ASC
LIMIT 10
"""

ORACLES["embedding_outliers"] = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
           FROM embeddings),
cent AS (SELECT label, list(cv ORDER BY pos) AS cent FROM (
    SELECT e.label, r.pos, round(avg(e.emb[r.pos]), 6) AS cv
    FROM e CROSS JOIN unnest(range(1, 65)) AS r(pos)
    GROUP BY e.label, r.pos) GROUP BY label),
sc AS (SELECT e.vec_id, e.label,
              round(list_cosine_similarity(e.emb, c.cent), 4) AS cos4
       FROM e JOIN cent c USING (label)),
lv AS (SELECT label, cos4, count(*) AS lv_n FROM sc
       GROUP BY label, cos4),
cand AS (SELECT label, cos4, cum_below, cut FROM (
    SELECT label, cos4,
           COALESCE(SUM(lv_n) OVER (PARTITION BY label
               ORDER BY cos4 ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_below,
           CAST(ceil(CAST(0.2 AS DOUBLE)
                     * CAST(SUM(lv_n) OVER (PARTITION BY label)
                            AS DOUBLE)) AS BIGINT) AS cut
    FROM lv) WHERE cum_below < cut),
fine AS (SELECT s.vec_id,
                (c.cum_below
                 + row_number() OVER (PARTITION BY s.label, s.cos4
                                      ORDER BY s.vec_id)) <= c.cut
                    AS flag
         FROM sc s JOIN cand c
             ON s.label = c.label AND s.cos4 = c.cos4)
SELECT s.vec_id, s.label, s.cos4 AS centroid_cos,
       COALESCE(f.flag, FALSE) AS is_outlier
FROM sc s LEFT JOIN fine f ON s.vec_id = f.vec_id
"""

_PR_CTES, _PR_LAST = _pagerank_ctes(3, 0.85)
ORACLES["link_curation"] = f"""
WITH {_PR_CTES},
kept AS (SELECT node, rank FROM (
    SELECT node, rank,
           row_number() OVER (ORDER BY rank DESC, node ASC) AS rk,
           count(*) OVER () AS n_all
    FROM {_PR_LAST})
    WHERE rk <= ceil(CAST(0.25 AS DOUBLE) * CAST(n_all AS DOUBLE)))
SELECT d.doc_id, d.doc_id % 32 AS host, k.rank AS host_rank
FROM documents d JOIN kept k ON d.doc_id % 32 = k.node
"""

ORACLES["score_normalize"] = """
WITH lv AS (SELECT source, n_chars, count(*) AS lv_n FROM documents
            GROUP BY source, n_chars),
lvn AS (SELECT source, n_chars,
               COALESCE(SUM(lv_n) OVER (PARTITION BY source
                   ORDER BY n_chars ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_below,
               SUM(lv_n) OVER (PARTITION BY source) AS n_dom
        FROM lv),
pct AS (SELECT source, n_chars,
               CAST(CASE WHEN n_dom > 1
                         THEN CAST(cum_below AS DOUBLE)
                              / CAST(n_dom - 1 AS DOUBLE)
                         ELSE CAST(0.0 AS DOUBLE) END AS FLOAT)
                   AS score_pct
        FROM lvn)
SELECT d.doc_id, d.source, d.n_chars, p.score_pct
FROM documents d JOIN pct p
    ON d.source = p.source AND d.n_chars = p.n_chars
"""


# Shared transcript-fixture CTEs (mirror _transcripts verbatim) and the
# conversation-stats body — one text reused by conv_stats, conv_filter
# and sft_curation so the fixture cannot silently diverge.
_TURNS_CTE = """turns AS (
    SELECT doc_id // 8 AS conv_id, doc_id % 8 AS turn_idx,
           CASE WHEN (doc_id % 2 = 0) <> (doc_id % 23 = 0)
                THEN 'user' ELSE 'assistant' END AS role,
           CASE WHEN doc_id % 31 = 0 THEN '' ELSE text END AS text
    FROM documents)"""

_CONV_LAGGED_CTE = """lagged AS (
    SELECT conv_id, turn_idx, role, text,
           lag(role) OVER w AS prev_role,
           row_number() OVER w AS rn
    FROM turns WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))"""

# count(CASE ...) not sum(CASE ...): DuckDB sum(int) is HUGEINT ->
# pandas float, kind mismatch (the contamination_report lesson). Plain
# equality for the violation test: NULL roles never violate (operator
# policy, documented in convops).
_CONV_STATS_CTE = """st AS (
    SELECT conv_id,
           count(*) AS n_turns,
           count(CASE WHEN role = 'user' THEN 1 END) AS n_user,
           count(CASE WHEN role = 'assistant' THEN 1 END)
               AS n_assistant,
           max(CASE WHEN rn = 1 THEN role END) AS first_role,
           count(CASE WHEN prev_role = role THEN 1 END) AS n_violations,
           count(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 END)
               AS n_empty,
           CAST(sum(COALESCE(length(text), 0)) AS BIGINT) AS total_chars
    FROM lagged GROUP BY conv_id)"""

_CONV_KEPT_CTE = """kept AS (
    SELECT conv_id, n_turns FROM st
    WHERE n_turns >= 2 AND n_turns <= 64 AND first_role = 'user'
      AND n_violations = 0 AND n_empty = 0)"""

ORACLES["conv_stats"] = f"""
WITH {_TURNS_CTE},
{_CONV_LAGGED_CTE},
{_CONV_STATS_CTE}
SELECT conv_id, n_turns, n_user, n_assistant, first_role,
       n_violations, n_empty, total_chars
FROM st
"""

ORACLES["conv_filter"] = f"""
WITH {_TURNS_CTE},
{_CONV_LAGGED_CTE},
{_CONV_STATS_CTE},
{_CONV_KEPT_CTE}
SELECT t.conv_id, t.turn_idx, t.role, t.text, k.n_turns
FROM turns t JOIN kept k USING (conv_id)
"""

# conv_filter CTEs + the sft_pipeline chain (lag contexts -> render ->
# shard-window cumsum, _SEQ_COLS) re-rooted on the kept turns.
ORACLES["sft_curation"] = f"""
WITH {_TURNS_CTE},
{_CONV_LAGGED_CTE},
{_CONV_STATS_CTE},
{_CONV_KEPT_CTE},
kt AS (
    SELECT t.conv_id, t.turn_idx, t.role, t.text
    FROM turns t JOIN kept k USING (conv_id)),
ctx AS (
    SELECT conv_id, turn_idx, role, text,
           lag(concat_ws(': ', role, text), 3) OVER w AS c3,
           lag(concat_ws(': ', role, text), 2) OVER w AS c2,
           lag(concat_ws(': ', role, text), 1) OVER w AS c1
    FROM kt WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
ex AS (
    SELECT conv_id * 4 + (turn_idx - 1) // 2 AS doc_id,
           concat_ws(chr(10) || chr(10),
                     nullif(concat_ws(chr(10), c3, c2, c1), ''),
                     text) AS text
    FROM ctx WHERE role = 'assistant'),
tk AS (
    SELECT doc_id, doc_id % 8 AS shard,
           {_ntok_sql()} AS n_tokens
    FROM ex)
SELECT doc_id, shard, n_tokens,
       {_SEQ_COLS}
FROM tk
"""


def _hits_sql(iters: int = 3) -> str:
    """Unrolled HITS iterations mirroring ``graph.hits`` exactly over
    the pagerank fixture graph: explicit-DOUBLE raw sums, L1 norm as a
    1-row aggregate, float32 cast per normalization. Iteration 1 is
    exactly integer-valued (hub0 = 1.0, so raws are in/out-degrees and
    the norm is the edge count) — agg-order-proof; later iterations
    rely on the float32-absorbs-1-ulp contract (pagerank analysis)."""
    parts = []
    prev_h = "h0"
    for k in range(1, iters + 1):
        parts.append(f"""ar{k} AS (
    SELECT n.node,
           COALESCE(SUM(CAST(h.score AS DOUBLE)), CAST(0 AS DOUBLE))
               AS raw
    FROM nodes n
    LEFT JOIN edges e ON e.dst = n.node
    LEFT JOIN {prev_h} h ON h.node = e.src
    GROUP BY n.node),
an{k} AS (SELECT CAST(SUM(raw) AS DOUBLE) AS nrm FROM ar{k}),
a{k} AS (SELECT node, CAST(raw / an{k}.nrm AS FLOAT) AS score
         FROM ar{k} CROSS JOIN an{k}),
hr{k} AS (
    SELECT n.node,
           COALESCE(SUM(CAST(a.score AS DOUBLE)), CAST(0 AS DOUBLE))
               AS raw
    FROM nodes n
    LEFT JOIN edges e ON e.src = n.node
    LEFT JOIN a{k} a ON a.node = e.dst
    GROUP BY n.node),
hn{k} AS (SELECT CAST(SUM(raw) AS DOUBLE) AS nrm FROM hr{k}),
h{k} AS (SELECT node, CAST(raw / hn{k}.nrm AS FLOAT) AS score
         FROM hr{k} CROSS JOIN hn{k})""")
        prev_h = f"h{k}"
    body = ",\n".join(parts)
    return f"""WITH edges AS (
    SELECT DISTINCT doc_id % 32 AS src, (doc_id * 7 + 3) % 40 AS dst
    FROM documents),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
h0 AS (SELECT node, CAST(1.0 AS FLOAT) AS score FROM nodes),
{body}
SELECT node, h.score AS hub, a.score AS auth
FROM h{iters} h JOIN a{iters} a USING (node)"""


ORACLES["hits"] = _hits_sql(3)

# the kmeans_clusters final assignment (_KMEANS_ASG), aggregated
ORACLES["cluster_stats"] = f"""
WITH {_KMEANS_CTES},
asg AS (
    {_KMEANS_ASG})
SELECT cid, count(*) AS n_members, min(vec_id) AS exemplar,
       min(cos) AS min_cos, max(cos) AS max_cos,
       CAST(SUM(CAST(cos AS DOUBLE)) / CAST(count(*) AS DOUBLE)
            AS FLOAT) AS avg_cos
FROM asg GROUP BY cid
"""

ORACLES["length_buckets"] = f"""
WITH tok AS (
    SELECT doc_id,
           {_ntok_sql()} AS n_tokens
    FROM documents),
bk AS (
    SELECT n_tokens,
           CASE WHEN COALESCE(n_tokens, 0) <= 0 THEN 0
                ELSE CAST(length(bin(CAST(n_tokens AS BIGINT))) AS INT)
           END AS bucket
    FROM tok)
SELECT bucket,
       CASE WHEN bucket = 0 THEN CAST(0 AS BIGINT)
            ELSE (CAST(1 AS BIGINT) << (bucket - 1)) END AS bucket_lo,
       CASE WHEN bucket = 0 THEN CAST(0 AS BIGINT)
            ELSE (CAST(1 AS BIGINT) << bucket) - 1 END AS bucket_hi,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(n_tokens) AS min_tokens,
       max(n_tokens) AS max_tokens
FROM bk GROUP BY bucket
"""

# token/bpe-token CTEs verbatim from the token_count / token_count_bpe
# oracles; ratios are float32 casts of exact-BIGINT divisions
ORACLES["tokenizer_fit"] = r"""
WITH d AS (
    SELECT source,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+'))
           END AS n_tokens,
           COALESCE(len(regexp_extract_all(
               text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r]+')), 0)
               AS n_bpe,
           COALESCE(length(text), 0) AS n_ch
    FROM documents),
agg AS (
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS ws_tokens,
           CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(n_ch) AS BIGINT) AS total_chars
    FROM d GROUP BY source)
SELECT source, n_docs, ws_tokens, bpe_tokens, total_chars,
       CAST(CAST(bpe_tokens AS DOUBLE)
            / CAST(nullif(ws_tokens, 0) AS DOUBLE) AS FLOAT)
           AS fertility,
       CAST(CAST(total_chars AS DOUBLE)
            / CAST(nullif(ws_tokens, 0) AS DOUBLE) AS FLOAT)
           AS chars_per_word,
       CAST(CAST(total_chars AS DOUBLE)
            / CAST(nullif(bpe_tokens, 0) AS DOUBLE) AS FLOAT)
           AS chars_per_token
FROM agg
"""

# unigram/bigram streams mirror _bigram_stream / the pmi oracle: empty
# tokens drop, bigram pairs need len(t) >= 2 (Spark's sequence(1,0) is
# DESCENDING, the guard is semantic)
ORACLES["distinct_ngrams"] = """
WITH arr AS (
    SELECT source AS dom,
           regexp_split_to_array(lower(trim(text)), '\\s+') AS t
    FROM documents),
uni AS (
    SELECT dom, unnest(t) AS term FROM arr),
u AS (
    SELECT dom, count(*) AS total_unigrams,
           count(DISTINCT term) AS distinct_unigrams
    FROM uni WHERE term <> '' GROUP BY dom),
big0 AS (
    SELECT dom, unnest([t[i + 1] || chr(9) || t[i + 2]
                        for i in range(0, len(t) - 1)]) AS bg
    FROM arr WHERE len(t) >= 2),
big AS (
    SELECT dom, split_part(bg, chr(9), 1) AS term_a,
           split_part(bg, chr(9), 2) AS term_b
    FROM big0),
b AS (
    SELECT dom, count(*) AS total_bigrams,
           count(DISTINCT term_a || ' ' || term_b) AS distinct_bigrams
    FROM big WHERE term_a <> '' AND term_b <> '' GROUP BY dom)
SELECT u.dom AS source,
       u.total_unigrams, u.distinct_unigrams,
       b.total_bigrams, b.distinct_bigrams,
       CAST(CAST(distinct_unigrams AS DOUBLE)
            / CAST(nullif(total_unigrams, 0) AS DOUBLE) AS FLOAT)
           AS ttr,
       CAST(CAST(distinct_bigrams AS DOUBLE)
            / CAST(nullif(total_bigrams, 0) AS DOUBLE) AS FLOAT)
           AS bigram_ttr
FROM u LEFT JOIN b USING (dom)
"""

# remix fixture mirrored: doc_id + 10^9 carries the original's
# lowercased 8-token prefix plus a unique synthetic tail
ORACLES["template_families"] = """
WITH base AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000000,
           concat_ws(' ',
               array_to_string(
                   regexp_split_to_array(lower(trim(text)),
                                         '\\s+')[1:8], ' '),
               'synthetictail', CAST(doc_id AS VARCHAR))
    FROM documents),
pre AS (
    SELECT doc_id,
           array_to_string(
               regexp_split_to_array(lower(trim(text)), '\\s+')[1:8],
               ' ') AS prefix
    FROM base),
pf AS (SELECT doc_id, prefix FROM pre WHERE prefix <> ''),
fams AS (
    SELECT prefix, count(*) AS fam_size
    FROM pf GROUP BY prefix HAVING count(*) >= 2)
SELECT p.doc_id, md5(p.prefix) AS family, f.fam_size, p.prefix
FROM pf p JOIN fams f USING (prefix)
"""

# Scored-response CTEs mirroring _responses(docs, per_prompt, dup_texts).
_RESP_TEXT_CTE = """resp AS (
    SELECT doc_id // 4 AS prompt_id, doc_id AS resp_id, text,
           (doc_id * doc_id) % 97 AS score
    FROM documents)"""

_RESP_POOL_CTE = """resp AS (
    SELECT doc_id // 8 AS prompt_id, doc_id AS resp_id,
           'ans ' || CAST(doc_id % 4 AS VARCHAR) AS text,
           (doc_id * 53) % 100 AS score
    FROM documents)"""

ORACLES["dpo_pairs"] = f"""
WITH {_RESP_TEXT_CTE},
rk AS (
    SELECT prompt_id, resp_id, text, score,
           row_number() OVER (PARTITION BY prompt_id
               ORDER BY score DESC, resp_id ASC) AS rb,
           row_number() OVER (PARTITION BY prompt_id
               ORDER BY score ASC, resp_id ASC) AS rw
    FROM resp)
SELECT b.prompt_id,
       b.resp_id AS chosen_id, w.resp_id AS rejected_id,
       b.score AS chosen_score, w.score AS rejected_score,
       b.score - w.score AS gap,
       b.text AS chosen_text, w.text AS rejected_text
FROM (SELECT * FROM rk WHERE rb = 1) b
JOIN (SELECT * FROM rk WHERE rw = 1) w USING (prompt_id)
WHERE b.score - w.score >= 10
"""

ORACLES["rft_select"] = f"""
WITH {_RESP_POOL_CTE},
d AS (
    SELECT prompt_id, resp_id, score,
           row_number() OVER (
               PARTITION BY prompt_id, md5(coalesce(text, ''))
               ORDER BY score DESC, resp_id ASC) AS rd
    FROM resp),
s AS (SELECT prompt_id, resp_id, score
      FROM d WHERE rd = 1 AND score >= 50),
r AS (SELECT prompt_id, resp_id, score,
             row_number() OVER (PARTITION BY prompt_id
                 ORDER BY score DESC, resp_id ASC) AS rk
      FROM s)
SELECT prompt_id, resp_id, score, rk FROM r WHERE rk <= 2
"""

# isqrt fix-up is pure integer: the two CASEs cannot both fire.
ORACLES["temperature_sample"] = """
WITH d AS (
    SELECT doc_id,
           CASE WHEN doc_id % 10 < 6 THEN 'en'
                WHEN doc_id % 10 < 8 THEN 'fr'
                WHEN doc_id % 10 < 9 THEN 'de'
                ELSE 'yo' END AS lang
    FROM documents),
g AS (SELECT lang, count(*) AS n_docs FROM d GROUP BY lang),
w AS (
    SELECT lang, n_docs,
           CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS s0
    FROM g),
w2 AS (
    SELECT lang, n_docs,
           s0 - CASE WHEN s0 * s0 > n_docs THEN 1 ELSE 0 END
              + CASE WHEN (s0 + 1) * (s0 + 1) <= n_docs
                     THEN 1 ELSE 0 END AS wgt
    FROM w),
t AS (
    -- CAST the summed weights: DuckDB SUM(BIGINT) is HUGEINT and
    -- would float-ify the integer division (contamination lesson).
    -- Budget = half the corpus (mirrors the fixture's count()//2).
    SELECT lang, n_docs,
           least(n_docs,
                 CAST((greatest(8,
                          (SELECT count(*) FROM documents) // 2)
                       * wgt) //
                      (SELECT CAST(SUM(wgt) AS BIGINT) FROM w2)
                      AS BIGINT)) AS target
    FROM w2),
thr AS (SELECT lang, n_docs, target,
               (target * 65536) // n_docs AS threshold
        FROM t)
SELECT d.doc_id, d.lang, thr.n_docs, thr.target
FROM d JOIN thr USING (lang)
WHERE CAST('0x' || substr(md5(d.doc_id || '#ts'), 1, 4) AS BIGINT)
      < thr.threshold
"""

ORACLES["doremi_weights"] = """
WITH dom AS (
    SELECT source, count(*) AS n_docs,
           CAST(SUM(COALESCE(length(text), 0)) AS BIGINT) AS sum_chars
    FROM documents GROUP BY source),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t_docs,
               CAST(SUM(sum_chars) AS BIGINT) AS t_chars
        FROM dom),
calc AS (
    SELECT source, n_docs,
           CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE)
               AS avg_d,
           (CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE))
             / (CAST(t_chars AS DOUBLE) / CAST(t_docs AS DOUBLE))
             - CAST(1.0 AS DOUBLE) AS rel_d
    FROM dom CROSS JOIN tot)
SELECT source, n_docs,
       CAST(avg_d AS FLOAT) AS avg_chars,
       CAST(rel_d AS FLOAT) AS rel,
       CAST(exp(rel_d / CAST(1.0 AS DOUBLE)) AS FLOAT) AS weight
FROM calc
"""

# sum_line = n_chars - (n_lines - 1): every char is in a line or is one
# of the n_lines-1 newline separators. Flags are exact integer
# predicates; the float32 ratios are display-only.
ORACLES["code_quality"] = """
WITH fix AS (
    SELECT doc_id,
           CASE WHEN doc_id % 13 = 0
                THEN replace(coalesce(text, ''), ' the ', chr(10))
                     || repeat('0', 4000)
                ELSE replace(coalesce(text, ''), ' the ', chr(10))
           END AS text
    FROM documents),
st AS (
    SELECT doc_id,
           len(string_split(text, chr(10))) AS n_lines,
           COALESCE(list_max(list_transform(
               string_split(text, chr(10)), x -> length(x))), 0)
               AS max_line,
           COALESCE(length(text), 0) AS nc,
           COALESCE(length(
               regexp_replace(text, '[^A-Za-z]', '', 'g')), 0) AS ac
    FROM fix),
st2 AS (SELECT *, nc - (n_lines - 1) AS sl FROM st)
SELECT doc_id, n_lines, max_line,
       CAST(CAST(ac AS DOUBLE)
            / CAST(nullif(nc, 0) AS DOUBLE) AS FLOAT) AS alpha_frac,
       CAST(CAST(sl AS DOUBLE)
            / CAST(n_lines AS DOUBLE) AS FLOAT) AS avg_line,
       CASE WHEN ac * 4 >= nc THEN 1 ELSE 0 END AS alpha_ok,
       CASE WHEN max_line <= 1000 THEN 1 ELSE 0 END AS maxline_ok,
       CASE WHEN sl <= 100 * n_lines THEN 1 ELSE 0 END AS avgline_ok,
       (CASE WHEN ac * 4 >= nc THEN 1 ELSE 0 END)
       * (CASE WHEN max_line <= 1000 THEN 1 ELSE 0 END)
       * (CASE WHEN sl <= 100 * n_lines THEN 1 ELSE 0 END) AS passed
FROM st2
"""

# The license CASE chain is GENERATED from textops.LICENSE_MARKERS so
# operator and oracle can never drift (the unicode_clean discipline).
_LIC_FIX_CTE = """fix AS (
    SELECT doc_id,
           coalesce(text, '') ||
           CASE doc_id % 11
                WHEN 0 THEN ' Licensed under the Apache License 2.0.'
                WHEN 1 THEN ' Released under the MIT License.'
                WHEN 2 THEN ' Distributed under the BSD License.'
                WHEN 3 THEN ' Subject to the Mozilla Public License.'
                WHEN 4 THEN ' GNU General Public License v3 applies.'
                WHEN 5 THEN ' GNU Lesser General Public License v2.1.'
                WHEN 6 THEN ' Creative Commons Attribution 4.0.'
                WHEN 7 THEN ' All Rights Reserved.'
                WHEN 8 THEN ' MIT License. All Rights Reserved.'
                ELSE '' END AS text
    FROM documents)"""

_LIC_TAG_SQL = "CASE " + " ".join(
    f"WHEN contains(lt, '{m}') THEN '{name}'"
    for m, name, _p in X.LICENSE_MARKERS
) + " ELSE 'unknown' END"
_LIC_PERM_SQL = "CASE " + " ".join(
    f"WHEN contains(lt, '{m}') THEN {p}"
    for m, _name, p in X.LICENSE_MARKERS
) + " ELSE 0 END"

ORACLES["license_tag"] = f"""
WITH {_LIC_FIX_CTE},
low AS (SELECT doc_id, lower(text) AS lt FROM fix)
SELECT doc_id,
       {_LIC_TAG_SQL} AS license,
       CAST({_LIC_PERM_SQL} AS INTEGER) AS permissive
FROM low
"""

ORACLES["anchor_topk"] = """
WITH edges AS (
    SELECT doc_id % 32 AS src, (doc_id * 7 + 3) % 40 AS dst,
           'a' || CAST(CASE WHEN doc_id % 3 = 0 THEN 0
                            ELSE (doc_id // 40) % 5 END AS VARCHAR)
               AS anchor
    FROM documents),
cnt AS (SELECT dst, anchor, count(*) AS cnt
        FROM edges GROUP BY dst, anchor),
r AS (SELECT dst, anchor, cnt,
             row_number() OVER (PARTITION BY dst
                 ORDER BY cnt DESC, anchor ASC) AS rk
      FROM cnt)
SELECT dst, anchor, cnt, rk FROM r WHERE rk <= 3
"""

# group g of doc d masks iff the 16-bit md5 selector of 'd#scg' lands
# under the density; maximal masked runs count via the lag window —
# count(CASE) not sum(CASE) (HUGEINT kind, the contamination lesson).
ORACLES["span_corruption"] = f"""
WITH tok AS (
    SELECT doc_id,
           {_ntok_sql()} AS n
    FROM documents),
gs AS (
    SELECT doc_id, n, unnest(range(0, (n + 2) // 3)) AS g
    FROM tok WHERE n > 0),
m AS (
    SELECT doc_id, n, g,
           CASE WHEN CAST('0x' || substr(
                    md5(doc_id || '#sc' || g), 1, 4) AS BIGINT)
                    % 100 < 15
                THEN 1 ELSE 0 END AS mg,
           CASE WHEN g < (n + 2) // 3 - 1 THEN 3
                ELSE n - 3 * g END AS sz
    FROM gs),
m2 AS (
    SELECT doc_id, n, g, mg, sz,
           COALESCE(lag(mg) OVER (PARTITION BY doc_id ORDER BY g), 0)
               AS pm
    FROM m),
agg AS (
    SELECT doc_id, MAX(n) AS n_tokens,
           CAST(SUM(mg * sz) AS BIGINT) AS n_masked,
           CAST(count(CASE WHEN mg = 1 AND pm = 0 THEN 1 END)
                AS BIGINT) AS n_spans
    FROM m2 GROUP BY doc_id)
SELECT doc_id, n_tokens, n_masked, n_spans,
       n_tokens - n_masked + n_spans AS enc_len,
       n_masked + n_spans AS tgt_len
FROM agg
"""

# (context, target) extractiveness; DuckDB list slicing/comprehension
# is 1-based inclusive (the _sh_cte convention).
ORACLES["extractive_coverage"] = """
WITH pairs AS (
    SELECT doc_id AS pair_id, text AS context,
           CASE WHEN doc_id % 29 = 0 THEN ''
                ELSE array_to_string(
                         regexp_split_to_array(lower(trim(text)),
                                               '\\s+')[1:6], ' ')
                     || ' qq' || CAST(doc_id % 5 AS VARCHAR)
           END AS target
    FROM documents),
tk AS (
    SELECT pair_id,
           regexp_split_to_array(lower(trim(context)), '\\s+') AS c1,
           regexp_split_to_array(lower(trim(target)), '\\s+') AS t1
    FROM pairs),
ok AS (
    SELECT * FROM tk
    WHERE len(t1) > 0 AND array_to_string(t1, '') <> ''),
bg AS (
    SELECT pair_id, c1, t1,
           CASE WHEN len(c1) >= 2
                THEN [c1[i] || ' ' || c1[i + 1]
                      for i in range(1, len(c1))]
                ELSE [] END AS c2,
           CASE WHEN len(t1) >= 2
                THEN [t1[i] || ' ' || t1[i + 1]
                      for i in range(1, len(t1))]
                ELSE [] END AS t2
    FROM ok)
SELECT pair_id,
       len(t1) AS tgt_tokens,
       CAST(CAST(len(list_filter(list_distinct(t1),
                                 x -> list_contains(c1, x)))
                 AS DOUBLE)
            / CAST(nullif(len(list_distinct(t1)), 0) AS DOUBLE)
            AS FLOAT) AS uni_cov,
       CAST(CAST(len(list_filter(list_distinct(t2),
                                 x -> list_contains(c2, x)))
                 AS DOUBLE)
            / CAST(nullif(len(list_distinct(t2)), 0) AS DOUBLE)
            AS FLOAT) AS bi_cov
FROM bg
"""

ORACLES["edit_dedup"] = """
WITH base AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000000, coalesce(text, '') || ' zz'
    FROM documents
    UNION ALL
    SELECT doc_id + 2000000000,
           array_to_string(
               regexp_split_to_array(lower(trim(text)), '\\s+')[1:8],
               ' ')
           || ' qqqqqqqqqqqqqqqqqqqq ' || CAST(doc_id AS VARCHAR)
    FROM documents),
pre AS (
    SELECT doc_id, text,
           array_to_string(
               regexp_split_to_array(lower(trim(text)), '\\s+')[1:8],
               ' ') AS prefix
    FROM base),
pf AS (SELECT * FROM pre WHERE prefix <> ''),
fams AS (
    SELECT prefix FROM pf GROUP BY prefix
    HAVING count(*) >= 2 AND count(*) <= 64)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       levenshtein(coalesce(a.text, ''), coalesce(b.text, ''))
           AS dist
FROM pf a JOIN pf b USING (prefix)
JOIN fams USING (prefix)
WHERE a.doc_id < b.doc_id
  AND levenshtein(coalesce(a.text, ''), coalesce(b.text, '')) <= 8
"""

# Flag CASE chains generated from prefops.REFUSAL_MARKERS /
# COMPLETE_RE so operator and oracle cannot drift.
_REFUSAL_SQL = " OR ".join(
    "contains(lower(coalesce(response, '')), '"
    + m.replace("'", "''")
    + "')"
    for m in PF.REFUSAL_MARKERS
)

ORACLES["instruction_filter"] = f"""
WITH rows_ AS (
    SELECT doc_id,
           array_to_string(
               regexp_split_to_array(trim(text), '\\s+')
                   [1:(1 + doc_id % 8)], ' ') AS instruction,
           CASE
               WHEN doc_id % 19 = 0 THEN
                   'As an AI language model, I cannot assist with that'
               WHEN doc_id % 23 = 0 THEN coalesce(text, '') || ' and'
               WHEN doc_id % 31 = 0 THEN
                   array_to_string(
                       regexp_split_to_array(trim(text), '\\s+')
                           [1:(1 + doc_id % 8)], ' ')
               ELSE coalesce(text, '') || '.'
           END AS response
    FROM documents),
fl AS (
    SELECT doc_id,
           {_ntok_sql('instruction')} AS inst_tokens,
           CASE WHEN {_REFUSAL_SQL} THEN 0 ELSE 1 END AS not_refusal,
           CASE WHEN regexp_matches(coalesce(response, ''),
                                    '{PF.COMPLETE_RE}')
                THEN 1 ELSE 0 END AS complete,
           CASE WHEN coalesce(response, '')
                     <> coalesce(instruction, '')
                THEN 1 ELSE 0 END AS distinct_resp
    FROM rows_)
SELECT doc_id, inst_tokens,
       CASE WHEN inst_tokens >= 3 AND inst_tokens <= 64
            THEN 1 ELSE 0 END AS len_ok,
       not_refusal, complete, distinct_resp,
       (CASE WHEN inst_tokens >= 3 AND inst_tokens <= 64
             THEN 1 ELSE 0 END)
       * not_refusal * complete * distinct_resp AS kept
FROM fl
"""

def _checksum_cte(rel: str, tag: str) -> str:
    """Shard-manifest CTE over an arbitrary (doc_id, text) relation —
    ONE copy of the hashing scheme shared by the shard_checksums and
    manifest_diff oracles (shared-CTE discipline: the two gates must
    check the SAME digest formula forever). Ends with ``c{tag}`` =
    (shard, n_docs, n_chars, checksum)."""
    return f"""c{tag} AS (
    SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                AS BIGINT) % 64 AS shard,
           count(*) AS n_docs,
           CAST(SUM(COALESCE(length(text), 0)) AS BIGINT) AS n_chars,
           CAST(SUM(CAST('0x' || substr(
               md5(CAST(doc_id AS VARCHAR) || '#'
                   || coalesce(text, '')), 1, 8) AS BIGINT))
               AS BIGINT) AS checksum
    FROM {rel} GROUP BY shard)"""


ORACLES["shard_checksums"] = f"""
WITH {_checksum_cte('documents', 's')}
SELECT shard, n_docs, n_chars, checksum FROM cs
"""

# scored responses (mirror _model_responses) and each model's best score
# per prompt — shared by the win_matrix and elo_fit oracles
_MODEL_RESP_CTES = """resp AS (
    SELECT doc_id // 8 AS prompt_id,
           'm' || CAST(doc_id % 4 AS VARCHAR) AS model,
           ((doc_id // 2) * 29) % 100 AS score
    FROM documents),
best AS (
    SELECT prompt_id, model, MAX(score) AS score
    FROM resp GROUP BY prompt_id, model)"""

ORACLES["win_matrix"] = f"""
WITH {_MODEL_RESP_CTES}
SELECT a.model AS model_a, b.model AS model_b,
       count(CASE WHEN a.score > b.score THEN 1 END) AS wins_a,
       count(CASE WHEN a.score < b.score THEN 1 END) AS wins_b,
       count(CASE WHEN a.score = b.score THEN 1 END) AS ties,
       count(*) AS n_prompts
FROM best a JOIN best b USING (prompt_id)
WHERE a.model < b.model
GROUP BY a.model, b.model
"""

# PERCENTILE_DISC via the level table; HUGEINT casts on the window
# sums (the contamination lesson); NULL lengths excluded (the
# score_normalize NULLS-FIRST/LAST policy).
ORACLES["length_quantiles"] = f"""
WITH tok AS (
    SELECT source,
           {_ntok_sql()} AS n
    FROM documents),
lv AS (SELECT source, n, count(*) AS cnt
       FROM tok WHERE n IS NOT NULL GROUP BY source, n),
cm AS (
    SELECT source, n,
           CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY n
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
           CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT)
               AS n_dom
    FROM lv)
SELECT source, MAX(n_dom) AS n_docs,
       MIN(CASE WHEN cum >= (n_dom * 25 + 99) // 100 THEN n END)
           AS p25,
       MIN(CASE WHEN cum >= (n_dom * 50 + 99) // 100 THEN n END)
           AS p50,
       MIN(CASE WHEN cum >= (n_dom * 75 + 99) // 100 THEN n END)
           AS p75,
       MIN(CASE WHEN cum >= (n_dom * 95 + 99) // 100 THEN n END)
           AS p95
FROM cm GROUP BY source
"""

_CARD_PERM_SQL = "CASE " + " ".join(
    f"WHEN contains(lower(coalesce(text, '')), '{m}') THEN {p}"
    for m, _name, p in X.LICENSE_MARKERS
) + " ELSE 0 END"

ORACLES["corpus_card"] = f"""
WITH fix AS (
    SELECT doc_id, source,
           CASE WHEN doc_id % 3 = 0
                THEN 'zxq' || CAST(doc_id AS VARCHAR)
                ELSE coalesce(text, '') ||
                     CASE doc_id % 11
                          WHEN 0 THEN
                            ' Licensed under the Apache License 2.0.'
                          WHEN 1 THEN
                            ' Released under the MIT License.'
                          WHEN 4 THEN
                            ' GNU General Public License v3 applies.'
                          WHEN 7 THEN ' All Rights Reserved.'
                          ELSE '' END
           END AS text
    FROM documents),
feats AS (
    SELECT source,
           {_ntok_sql()} AS n_tokens,
           COALESCE(length(text), 0) AS nc,
           CASE WHEN len(list_filter(
                    regexp_split_to_array(trim(text), '\\s+'),
                    t -> lower(t) IN ({_STOP_SQL}))) >= 2
                THEN 1 ELSE 0 END AS en,
           {_CARD_PERM_SQL} AS permissive
    FROM fix),
agg AS (
    SELECT source, count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(nc) AS BIGINT) AS n_chars,
           CAST(SUM(permissive) AS BIGINT) AS n_permissive,
           CAST(SUM(en) AS BIGINT) AS n_en
    FROM feats GROUP BY source)
SELECT source, n_docs, n_tokens, n_chars, n_permissive, n_en,
       CAST(CAST(n_permissive AS DOUBLE) / CAST(n_docs AS DOUBLE)
            AS FLOAT) AS pct_permissive,
       CAST(CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE) AS FLOAT)
           AS pct_en
FROM agg
"""


def _elo_sql(iters: int = 3) -> str:
    """Unrolled Bradley-Terry MM iterations over the win_matrix
    fixture: W sums half-integers (exact any order), denominator
    double sums absorb into per-iteration float32 casts, anchor =
    highest-W model (ties -> smallest name) so the normalizing
    division never hits zero."""
    parts = []
    prev = "g0"
    for k in range(1, iters + 1):
        parts.append(f"""d{k} AS (
    SELECT p.m,
           SUM(CAST(p.n AS DOUBLE)
               / (CAST(ga.r AS DOUBLE) + CAST(gb.r AS DOUBLE)))
               AS den
    FROM p JOIN {prev} ga ON ga.m = p.m
           JOIN {prev} gb ON gb.m = p.o
    GROUP BY p.m),
r{k} AS (SELECT t.m, t.W / d.den AS raw
         FROM tot t JOIN d{k} d USING (m)),
a{k} AS (SELECT raw AS ar FROM r{k} JOIN anch USING (m)),
g{k} AS (SELECT m, CAST(raw / a{k}.ar AS FLOAT) AS r
         FROM r{k} CROSS JOIN a{k})""")
        prev = f"g{k}"
    body = ",\n".join(parts)
    return f"""
WITH {_MODEL_RESP_CTES},
mx AS (
    SELECT a.model AS model_a, b.model AS model_b,
           count(CASE WHEN a.score > b.score THEN 1 END) AS wins_a,
           count(CASE WHEN a.score < b.score THEN 1 END) AS wins_b,
           count(CASE WHEN a.score = b.score THEN 1 END) AS ties,
           count(*) AS n
    FROM best a JOIN best b USING (prompt_id)
    WHERE a.model < b.model
    GROUP BY a.model, b.model),
p AS (
    SELECT model_a AS m, model_b AS o,
           CAST(wins_a AS DOUBLE)
               + CAST(ties AS DOUBLE) * CAST(0.5 AS DOUBLE) AS w,
           n
    FROM mx
    UNION ALL
    SELECT model_b, model_a,
           CAST(wins_b AS DOUBLE)
               + CAST(ties AS DOUBLE) * CAST(0.5 AS DOUBLE),
           n
    FROM mx),
tot AS (SELECT m, SUM(w) AS W FROM p GROUP BY m),
anch AS (SELECT m FROM tot ORDER BY W DESC, m ASC LIMIT 1),
g0 AS (SELECT m, CAST(1.0 AS FLOAT) AS r FROM tot),
{body}
SELECT m AS model, r AS rating,
       CAST(CASE WHEN r > 0
                 THEN CAST(400.0 AS DOUBLE) * log10(CAST(r AS DOUBLE))
            END AS FLOAT) AS elo
FROM g{iters}"""


ORACLES["elo_fit"] = _elo_sql(3)


# conv_near_dup oracle: the _MINHASH_SQL chain VERBATIM (the reuse
# rule: copy an oracle's CTE chain, never "improve" it), re-rooted on
# conversation-fingerprint documents built from the transcript
# fixture + its mangled-opener remix.
ORACLES["conv_near_dup"] = (
    "WITH "
    + _TURNS_CTE
    + """,
turns2 AS (
    SELECT conv_id, turn_idx, text FROM turns
    UNION ALL
    SELECT conv_id + 1000000000, turn_idx,
           CASE WHEN turn_idx = 0
                THEN coalesce(text, '') || ' zz'
                ELSE text END
    FROM turns),
convdocs AS (
    SELECT conv_id AS doc_id,
           array_to_string(
               list(fp ORDER BY turn_idx, fp), ' ') AS text
    FROM (
        SELECT conv_id, turn_idx,
               md5(regexp_replace(
                   lower(trim(coalesce(text, ''))),
                   '\\s+', ' ', 'g')) AS fp
        FROM turns2)
    GROUP BY conv_id),
"""
    + _MINHASH_SQL.split("WITH", 1)[1].replace(
        "FROM documents", "FROM convdocs"
    )
)


# manifest_diff oracle: the SHARED _checksum_cte over both snapshot
# fixtures, full-outer joined at shard granularity.
ORACLES["manifest_diff"] = f"""
WITH snap_b AS (
    SELECT doc_id,
           CASE WHEN doc_id % 13 = 0
                THEN coalesce(text, '') || ' v2'
                ELSE text END AS text
    FROM documents WHERE doc_id % 97 <> 0),
{_checksum_cte('documents', 'a')},
{_checksum_cte('snap_b', 'b')}
SELECT coalesce(ca.shard, cb.shard) AS shard,
       coalesce(ca.n_docs, 0) AS n_docs_a,
       coalesce(cb.n_docs, 0) AS n_docs_b,
       coalesce(ca.checksum, -1) AS checksum_a,
       coalesce(cb.checksum, -1) AS checksum_b,
       CASE WHEN coalesce(ca.n_docs, 0) <> coalesce(cb.n_docs, 0)
              OR coalesce(ca.n_chars, -1) <> coalesce(cb.n_chars, -1)
              OR coalesce(ca.checksum, -1) <> coalesce(cb.checksum, -1)
            THEN 1 ELSE 0 END AS changed
FROM ca FULL OUTER JOIN cb ON ca.shard = cb.shard
"""
