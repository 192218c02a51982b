"""URL canonicalization + domain accounting — crawl-side hygiene.

A Common-Crawl-style corpus carries the same logical page under many URL
spellings (tracking params, fragments, default ports, case-variant hosts).
Canonicalizing BEFORE url-keyed dedup/partitioning collapses those families;
domain-level aggregation then feeds blocklist filtering and corpus-mix
decisions. The reference's ``isValidUrl`` (node-zerox/src/utils/file.ts:
33-40) is the validity end of this; canonicalization is its crawl-scale
sibling.

Everything is pure JVM column algebra (split/filter/array_sort — no UDF, no
shuffle); the domain rollup is one map-side-combined hash aggregation on a
low-cardinality key. Expressions are composed as SQL fragments over the
``url`` column so the whole rule is also restateable verbatim by the DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# query params that never change page identity (tracking/attribution)
TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "fbclid", "gclid", "msclkid", "ref", "ref_src", "mc_cid", "mc_eid",
)


def canonicalize_url() -> Column:
    """Canonical form of the URL in column ``url``: fragment dropped,
    scheme+host lowercased, default :80/:443 stripped, tracking params
    removed, remaining query params sorted, empty path → '/', trailing
    slashes on a non-root path trimmed. Pure column algebra."""
    nofrag = "split(url, '#')[0]"
    base = f"split({nofrag}, '\\\\?')[0]"
    # everything after the FIRST '?' is the query ('?' is legal INSIDE a
    # query per RFC 3986 — substring_index(…, -1) would split on the last
    # one and silently drop identity-bearing params)
    query = (
        f"CASE WHEN instr({nofrag}, '?') > 0 "
        f"THEN substring({nofrag}, instr({nofrag}, '?') + 1) ELSE '' END"
    )
    # default ports are scheme-specific: :80 is only redundant under http,
    # :443 only under https (http://host:443 is a DIFFERENT origin than
    # http://host and must not collapse with it)
    scheme_host = (
        f"regexp_replace(regexp_replace(lower(regexp_extract({base}, "
        f"'^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1)), "
        f"'^(http://.*):80$', '$1'), '^(https://.*):443$', '$1')"
    )
    path = f"regexp_replace({base}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*', '')"
    path_norm = (
        f"CASE WHEN {path} = '' THEN '/' "
        f"ELSE regexp_replace({path}, '(.+?)/+$', '$1') END"
    )
    tracked = ", ".join(f"'{p}'" for p in TRACKING_PARAMS)
    kept = (
        f"array_sort(filter(split({query}, '&'), "
        f"p -> p != '' AND NOT array_contains(array({tracked}), "
        f"lower(substring_index(p, '=', 1)))))"
    )
    qstr = f"array_join({kept}, '&')"
    return F.expr(
        f"CASE WHEN {qstr} = '' THEN concat({scheme_host}, {path_norm}) "
        f"ELSE concat({scheme_host}, {path_norm}, '?', {qstr}) END"
    )


def domain_of() -> Column:
    """Lowercase authority of column ``url`` without userinfo/port."""
    return F.expr(
        "regexp_replace(regexp_replace(lower(regexp_extract(url, "
        "'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^.*@', ''), "
        "':[0-9]+$', '')"
    )


def canonical_urls(pages: DataFrame) -> DataFrame:
    """pages(url, …) → + (canonical_url, domain)."""
    return pages.withColumn("canonical_url", canonicalize_url()).withColumn(
        "domain", domain_of()
    )


def domain_stats(pages: DataFrame) -> DataFrame:
    """(domain, n_pages, n_canonical): per-domain page counts and distinct
    canonical-URL counts — the blocklist/corpus-mix accounting table. One
    hash agg; map-side combined; the domain key is low-cardinality."""
    return (
        canonical_urls(pages)
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("canonical_url").alias("n_canonical"),
        )
    )
