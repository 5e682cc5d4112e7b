"""Web registry: crawl-side URL operators (operators/web.py, idn.py).

URL canonicalization, URL-level dedup, domain blocklist and domain
profile, and URL↔content conflict detection. URLs are synthesized from
the shared literals in operators/web.py and the oracles interpolate the
same constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import web as _web
from .queries import register
from .queries_curation import _docs


# ---------------------------------------------------------------------------
# Web/URL step-0 operators (operators/web.py) — crawl-side canonicalize,
# URL-level dedup, blocklist, domain profile. URLs synthesized with the
# shared literals in operators/web.py; the SQL below interpolates the SAME
# constants (one constant, two renderings — the airports-fixture rule).
# ---------------------------------------------------------------------------


_URL_RE = _web.URL_PARTS_RE  # RE2-safe; identical string on both engines


# IDN fixture literals, built with explicit escapes so the NFC/NFD
# distinction cannot be editor-normalized away; interpolated into both
# the synthesis SQL and the host canonicalization below.
_IDN_NFC = "münchen"  # precomposed ü
_IDN_NFD = "münchen"  # u + combining diaeresis
_IDN_ACE = "xn--mnchen-3ya"
_CAFE_NFC = "/café"  # precomposed é
_CAFE_NFD = "/café"  # e + combining acute


def _url_synth_sql() -> str:
    g = _web.URL_GROUP_DIV
    langs = _web.URL_LANGS
    lang_case = "CASE " + " ".join(
        f"WHEN (doc_id // {g}) % {len(langs)} = {i} THEN '{lg}'"
        for i, lg in enumerate(langs)
    ) + " END"
    return f"""
    (CASE WHEN doc_id % 7 = 0 THEN 'HTTPS' ELSE 'https' END)
    || '://'
    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
    || (CASE WHEN (doc_id // {g}) % 13 = 7 THEN
            (CASE WHEN doc_id % 3 = 0 THEN '{_IDN_ACE.upper()}'
                  WHEN doc_id % 3 = 1 THEN '{_IDN_NFC}'
                  ELSE '{_IDN_NFD}' END)
        ELSE 'Host' || CAST((doc_id // {g}) % 4 AS VARCHAR) END)
    || '.src' || CAST((doc_id // {g}) % 20 AS VARCHAR) || '.com'
    || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
    || '/' || ({lang_case}) || '/'
    || (CASE WHEN doc_id % 11 = 0 THEN 'd%6Fc'
             WHEN doc_id % 11 = 1 THEN 'd%6fc' ELSE 'doc' END)
    || (CASE WHEN (doc_id // {g}) % 17 = 5 THEN
            (CASE WHEN doc_id % 2 = 1 THEN '{_CAFE_NFC}'
                  ELSE '{_CAFE_NFD}' END)
        ELSE '' END)
    || '/' || CAST(doc_id // {g} AS VARCHAR)
    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
    || '?'
    || (CASE WHEN doc_id % 2 = 0
        THEN 'page=' || CAST((doc_id // {g}) % 4 AS VARCHAR)
             || '&q=a%2fb&u=%7ea'
             || '&utm_source=feed&id=' || CAST(doc_id // {g} AS VARCHAR)
             || '&fbclid=zz' || CAST(doc_id % 9 AS VARCHAR)
        ELSE 'id=' || CAST(doc_id // {g} AS VARCHAR)
             || '&page=' || CAST((doc_id // {g}) % 4 AS VARCHAR)
             || '&q=a%2Fb&u=~a' END)
    || (CASE WHEN doc_id % 2 = 0 THEN '#sec1' ELSE '' END)
    """


def _sql_pct_norm(expr: str) -> str:
    """DuckDB rendering of web.normalize_pct_escapes — the identical
    split-on-%% / per-segment nibble-arithmetic normalization (decode
    unreserved escapes, uppercase retained hex, keep malformed escapes
    literal). ascii('')=0 / chr / substr / trailing-empty split all
    behave identically on both engines (probed)."""

    def nib(c: str) -> str:
        a = f"ascii(lower({c}))"
        return (
            f"(CASE WHEN {a} BETWEEN 48 AND 57 THEN {a} - 48"
            f" WHEN {a} BETWEEN 97 AND 102 THEN {a} - 87"
            " ELSE -1 END)"
        )

    n1 = nib("substr(seg, 1, 1)")
    n2 = nib("substr(seg, 2, 1)")
    code = f"({n1} * 16 + {n2})"
    valid = f"(length(seg) >= 2 AND {n1} >= 0 AND {n2} >= 0)"
    unres = (
        f"({code} BETWEEN 48 AND 57 OR {code} BETWEEN 65 AND 90"
        f" OR {code} BETWEEN 97 AND 122 OR {code} IN (45, 46, 95, 126))"
    )
    fix = (
        f"CASE WHEN {valid} AND {unres} THEN chr({code}) || substr(seg, 3)"
        f" WHEN {valid} THEN '%' || upper(substr(seg, 1, 2)) || substr(seg, 3)"
        " ELSE '%' || seg END"
    )
    # coalesce: DuckDB's array_to_string([]) is NULL where Spark's
    # array_join([]) is '' — an escape-free string must pass through
    segs = f"string_split({expr}, '%')"
    return (
        f"({segs}[1] || coalesce(array_to_string(list_transform("
        f"list_slice({segs}, 2, len({segs})), seg -> {fix}), ''), ''))"
    )


def _sql_host(u: str = "url") -> str:
    """Case-fold, strip www./scheme-default port, then IDN-fold: ACE
    labels decode to Unicode and the host composes to NFC. The Spark
    side runs a general RFC 3492 punycode fold (operators/idn.py); the
    oracle's decode is corpus-bounded — the synthesis emits exactly one
    ACE literal, so one replace() renders it (general decode parity is
    pinned by the pure-Python property test, tests/test_round9.py).
    NFC itself is DuckDB's built-in nfc_normalize."""
    h = (
        "regexp_replace("
        f"lower(regexp_extract({u}, '{_URL_RE}', 2)), '^www\\.', '')"
    )
    scheme = f"lower(regexp_extract({u}, '{_URL_RE}', 1))"
    folded = (
        f"(CASE WHEN {scheme} = 'https'"
        f" THEN regexp_replace({h}, ':443$', '')"
        f" WHEN {scheme} = 'http'"
        f" THEN regexp_replace({h}, ':80$', '')"
        f" ELSE {h} END)"
    )
    # the corpus-bounded ACE decode is anchored to WHOLE labels
    # ((^|.)literal(.|$)) so a future host carrying a different xn--
    # label, or this literal as a substring of a longer label, diverges
    # LOUDLY from the Spark side's general RFC 3492 decoder instead of
    # silently matching mid-label
    return (
        f"nfc_normalize(regexp_replace({folded},"
        f" '(^|\\.){_IDN_ACE}(\\.|$)', '\\1{_IDN_NFC}\\2'))"
    )


def _sql_path(u: str = "url") -> str:
    # nfc_normalize mirrors the Spark side's composition fold — the
    # NFD-spelled path segment composes to its precomposed twin
    raw = _sql_pct_norm(f"regexp_extract({u}, '{_URL_RE}', 3)")
    p = f"regexp_replace({raw}, '(.)/$', '\\1')"
    return f"nfc_normalize(CASE WHEN {p} = '' THEN '/' ELSE {p} END)"


def _sql_is_tracking(kv: str = "kv") -> str:
    return "(" + " OR ".join(
        f"starts_with({kv}, '{p}')" for p in _web.TRACKING_PREFIXES
    ) + ")"


def _sql_not_tracking(kv: str = "kv") -> str:
    return f" AND NOT {_sql_is_tracking(kv)}"


def _sql_raw_params(u: str = "url") -> str:
    q = f"regexp_replace(regexp_extract({u}, '{_URL_RE}', 4), '^\\?', '')"
    kvs = f"string_split({q}, '&')"
    # params are percent-normalized BEFORE the tracking filter / sort,
    # mirroring web.canonical_query_params
    return (
        f"list_filter(list_transform({kvs},"
        f" s -> {_sql_pct_norm('s')}), kv -> kv <> '')"
    )


def _sql_canon_params(u: str = "url") -> str:
    return (
        f"list_sort(list_filter({_sql_raw_params(u)},"
        f" kv -> kv <> ''{_sql_not_tracking()}))"
    )


def _sql_canon_url(u: str = "url") -> str:
    qs = f"array_to_string({_sql_canon_params(u)}, '&')"
    return (
        f"lower(regexp_extract({u}, '{_URL_RE}', 1)) || '://' || "
        f"{_sql_host(u)} || {_sql_path(u)} || "
        f"(CASE WHEN {qs} = '' THEN '' ELSE '?' || {qs} END)"
    )


@register(
    "web_url_canonicalize",
    f"""
WITH urls AS (
    SELECT doc_id, {_url_synth_sql()} AS url FROM documents
)
SELECT doc_id, url AS url_raw,
       {_sql_canon_url()} AS url_canon,
       {_sql_host()} AS host,
       regexp_extract({_sql_host()}, '{_web.REG_DOMAIN_RE}', 1)
           AS registered_domain,
       CAST(len(list_filter(string_split({_sql_path()}, '/'), s -> s <> ''))
            AS BIGINT) AS path_depth,
       CAST(len({_sql_canon_params()}) AS BIGINT) AS n_query_params,
       len(list_filter({_sql_raw_params()},
           kv -> {_sql_is_tracking()})) > 0 AS had_tracking
FROM urls
""",
    doc="URL canonicalization + anatomy over deterministically synthesized "
    "crawl URLs: case-fold scheme/host, strip www./default ports, drop "
    "fragments + tracking params (utm_*/fbclid/gclid), order-normalize "
    "the query string. Pure regexp/array projection — zero shuffle, "
    "whole-stage codegen; the step-0 op of a web-scale corpus.",
)
def q_web_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    urls = d.select("doc_id", _web.synth_url().alias("url"))
    return _web.url_features(urls)


@register(
    "web_url_dedup_keepers",
    f"""
WITH urls AS (
    SELECT doc_id, {_url_synth_sql()} AS url FROM documents
),
canon AS (SELECT doc_id, {_sql_canon_url()} AS url_canon FROM urls)
SELECT url_canon, MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs
FROM canon GROUP BY 1
""",
    doc="Exact URL-level dedup: recrawls and parameter-jittered refetches "
    "of one resource collide on the canonical URL; keeper = smallest "
    "doc_id. The exchange is keyed on md5(url_canon) so shuffle rows are "
    "constant-width regardless of URL length; synthesis guarantees group "
    f"size <= {_web.URL_GROUP_DIV} at any scale factor.",
)
def q_web_url_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    urls = d.select("doc_id", _web.synth_url().alias("url"))
    return _web.url_dedup_keepers(urls)


@register(
    "web_domain_blocklist",
    f"""
WITH urls AS (
    SELECT doc_id, {_url_synth_sql()} AS url FROM documents
)
SELECT doc_id,
       regexp_extract({_sql_host()}, '{_web.REG_DOMAIN_RE}', 1)
           AS registered_domain,
       {_sql_path()} AS path,
       CASE WHEN regexp_extract({_sql_host()}, '{_web.REG_DOMAIN_RE}', 1)
                 IN ({", ".join("'" + d_ + "'" for d_ in _web.BLOCKED_DOMAINS)})
            THEN 'domain'
            WHEN starts_with({_sql_path()}, '{_web.BLOCKED_PATH_PREFIX}')
            THEN 'path'
            ELSE 'allowed' END AS verdict
FROM urls
""",
    doc="Domain/path blocklist verdicts with reason precedence "
    "domain > path > allowed. Expressed as a literal predicate (the "
    "production swap-in is a broadcast anti-join against a blocklist "
    "table keyed on registered_domain — same extraction, one join).",
)
def q_web_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    urls = d.select("doc_id", _web.synth_url().alias("url"))
    return _web.domain_blocklist_verdicts(urls)


@register(
    "web_domain_stats",
    f"""
WITH urls AS (
    SELECT doc_id, text, {_url_synth_sql()} AS url FROM documents
),
per AS (
    SELECT regexp_extract({_sql_host()}, '{_web.REG_DOMAIN_RE}', 1)
               AS registered_domain,
           {_sql_host()} AS host,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM urls
),
agg AS (
    SELECT registered_domain, COUNT(*) AS n_docs,
           COUNT(DISTINCT host) AS n_hosts,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM per GROUP BY 1
),
tot AS (SELECT SUM(n_docs) AS total_docs FROM agg)
SELECT registered_domain, n_docs, n_hosts, n_tokens,
       CAST(ROUND(n_docs * 1000000.0 / total_docs) AS BIGINT) AS docs_ppm
FROM agg, tot
""",
    doc="Per-registered-domain corpus profile (doc count, distinct hosts, "
    "token total, exact ppm share) — the table a crawl curator reads "
    "before setting per-domain caps. Domain-grain aggregate plus a "
    "broadcast 1-row total; integer ppm for cross-engine hash parity.",
)
def q_web_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    urls = d.select("doc_id", "text", _web.synth_url().alias("url"))
    return _web.domain_stats(urls)


# Crawl QA: canonical-URL / content agreement audit
# --------------------------------------------------------------------------


def _url_conflict_oracle() -> str:
    # shares the round-7 URL synthesis/canonicalization renderings, so
    # the two modules can never drift apart

    return f"""
WITH urls AS (
    SELECT doc_id, {_url_synth_sql()} AS url, md5(text) AS fp
    FROM documents
),
canon AS (
    SELECT doc_id, {_sql_canon_url("url")} AS url_canon, fp FROM urls
)
SELECT url_canon,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_contents,
       MIN(doc_id) AS first_doc_id
FROM canon
GROUP BY url_canon
HAVING COUNT(DISTINCT fp) > 1
"""


@register(
    "web_url_content_conflicts",
    _url_conflict_oracle(),
    doc="Crawl-QA audit: canonical URLs whose documents DISAGREE on "
    "content (distinct text fingerprints under one canonical URL) — "
    "soft-404s, A/B-served pages, bot-cloaked content, or a broken "
    "canonicalizer, all of which poison URL-level dedup (the keeper "
    "silently represents content it doesn't have). One exchange keyed "
    "on the canonical URL with map-side distinct-fp collapse; emits "
    "only the conflicted groups. The synthesized corpus guarantees "
    "conflicts: URL groups collapse doc_id/URL_GROUP_DIV consecutive "
    "docs whose texts differ.",
)
def q_web_url_content_conflicts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators import web as _web

    d = load_table(spark, sf_dir, "documents")
    canon = d.select(
        "doc_id", _web.synth_url().alias("url"), F.md5("text").alias("fp")
    ).select(
        "doc_id",
        _web.canon_parts("url")["url_canon"].alias("url_canon"),
        "fp",
    )
    return (
        canon.groupBy("url_canon")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_contents"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .where(F.col("n_contents") > 1)
    )
