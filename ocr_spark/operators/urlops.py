"""URL / domain curation operators — the cheapest first-pass filters in
every web-corpus pipeline (C4, Raffel et al. JMLR '20 §2.2; RefinedWeb,
Penedo et al. '23 §3.1 both lead with URL-level filtering before any
content-based stage).

Two base operators, both linear built-in regex/string/array expressions
(JVM-side, codegen'd, no UDFs — the ``redact_pii`` discipline):

- :func:`with_canonical_url` — normalize a URL column to a canonical
  dedup key (scheme/www/default-port/fragment/trailing-slash stripped,
  tracking params dropped, remaining query params sorted).
- :func:`domain_filter` — host blocklist with suffix semantics
  (``example.com`` blocks ``example.com`` and ``*.example.com``).

:func:`url_category` and :func:`url_decontaminate` key on the canonical
URL the first one builds.

Canonicalization policy (documented simplifications — a canonical key
for DEDUP, not a resolver): the whole host lowercases but the path
keeps its case (paths are case-sensitive per RFC 3986; hosts are not);
``:80``/``:443`` strip regardless of scheme (the scheme is already
gone — a site serving both is one site for dedup purposes); params
starting with ``utm_`` plus ``fbclid``/``gclid`` are click-tracking
noise and drop entirely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ocr_spark.operators.textops import _ensure_parallelism

def _canonical_parts() -> tuple[Column, Column, Column]:
    """(host, path, sorted_query) columns from the raw ``url`` column."""
    s = F.regexp_replace(F.trim(F.col("url")), r"#.*$", "")
    s = F.regexp_replace(s, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://", "")
    base = F.regexp_extract(s, r"^[^?]*", 0)
    query = F.when(
        s.contains("?"), F.regexp_replace(s, r"^[^?]*\?", "")
    ).otherwise(F.lit(""))
    host = F.lower(F.regexp_extract(base, r"^[^/]*", 0))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":(80|443)$", "")
    path = F.regexp_replace(
        F.regexp_extract(base, r"^[^/]*(/.*)?$", 1), r"/+$", ""
    )
    q = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                # fbclid/gclid match with OR without '=': a valueless
                # '?fbclid' is the same tracking noise and must not
                # split dedup groups (utm_ is a prefix family already)
                lambda x: (
                    (x != "")
                    & ~x.startswith("utm_")
                    & (x != "fbclid")
                    & ~x.startswith("fbclid=")
                    & (x != "gclid")
                    & ~x.startswith("gclid=")
                ),
            )
        ),
        "&",
    )
    return host, path, q


def with_canonical_url(df: DataFrame) -> DataFrame:
    """Append ``host`` and ``canonical_url`` columns (see module
    docstring for the normalization policy). Pure projection — pushes
    down, prunes, no shuffle (``_ensure_parallelism`` guards the
    single-file-scan case so the regex work spreads across cores)."""
    df = _ensure_parallelism(df)
    host, path, q = _canonical_parts()
    return df.withColumn("host", host).withColumn(
        "canonical_url",
        F.concat(
            F.col("host"),
            path,
            F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
        ),
    )


def domain_filter(
    df: DataFrame, blocklist: list[str]
) -> DataFrame:
    """Append ``blocked`` (boolean): true when the canonical host is a
    blocklisted domain or any subdomain of one. The blocklist is a
    literal predicate chain (blocklists are config-sized; at a real
    100k-domain blocklist switch to a broadcast join on the host's
    suffix set) — linear scan work, no shuffle, rows never dropped
    (filter on the flag to materialize the kept corpus).

    The COMPARE host strips userinfo (``user@``) and ANY ``:port``
    before matching — ``canonical_url`` keeps its default-port-only
    dedup policy, but a blocklist must not be escapable via
    ``http://example.com:8080/x`` or ``http://user@example.com/x``
    (both are requests to example.com)."""
    out = with_canonical_url(df)
    cmp_host = F.regexp_replace(
        F.regexp_replace(F.col("host"), r"^[^/@]*@", ""), r":\d+$", ""
    )
    pred = F.lit(False)
    for b in blocklist:
        d = b.lower()
        pred = (
            pred
            | (cmp_host == d)
            | cmp_host.endswith("." + d)
        )
    # coalesce: a NULL url makes host NULL and `false OR NULL` is NULL,
    # which a `filter(~blocked)` materialization would silently drop —
    # breaking the rows-never-dropped contract; NULL urls are not
    # blocked, they are just unmatchable
    return out.withColumn("blocked", F.coalesce(pred, F.lit(False)))


def url_category(
    df: DataFrame,
    categories: dict[str, str],
) -> DataFrame:
    """UT1-blocklist-style URL category tagging (C4 and RefinedWeb both
    gate on URL word/category lists before reading any content): the
    first category (dict order) whose regex matches the lowercased
    canonical URL wins; unmatched URLs tag ``'ok'``. Appends
    ``url_category`` + ``url_blocked``; rows never dropped.

    Regexes run over the CANONICAL form so scheme/www/port/tracking
    variants cannot dodge a pattern. Keep patterns RE2-simple
    (alternations of literals) — they are shared semantics with the
    DuckDB oracle. Pure map: the category table compiles to a literal
    CASE chain (category lists are config-sized), zero shuffle.
    """
    out = with_canonical_url(df)
    target = F.lower(F.col("canonical_url"))
    cat = None
    for name, pat in categories.items():
        cond = target.rlike(pat)
        cat = (
            F.when(cond, F.lit(name))
            if cat is None
            else cat.when(cond, F.lit(name))
        )
    cat = F.lit("ok") if cat is None else cat.otherwise(F.lit("ok"))
    return out.withColumn(
        "url_category", F.coalesce(cat, F.lit("ok"))
    ).withColumn("url_blocked", F.col("url_category") != "ok")


def url_decontaminate(
    train: DataFrame, eval_df: DataFrame
) -> DataFrame:
    """URL-level decontamination — drop training documents whose
    canonical URL appears in an eval set (C4 held out exact eval URLs;
    running it at the URL level catches page-identity leaks BEFORE any
    content hashing, and canonicalization means scheme/www/port/
    tracking variants of an eval page cannot slip through).

    left_anti on the canonical key; the eval side is eval-sized so it
    broadcasts (explicit), and the training corpus never reshuffles —
    the same join discipline as ``decontaminate``/``anti_join_resume``.
    Returns surviving train rows with their canonical columns.
    """
    t = with_canonical_url(train)
    e = (
        with_canonical_url(eval_df)
        .select("canonical_url")
        .distinct()
    )
    return t.join(F.broadcast(e), "canonical_url", "left_anti")
