"""Keep/drop content filter — the reference's stage 4, Spark-first.

Reference (/root/reference/fineweb_analyzer.py:411-518) builds an
in-memory dict ``domain → crawl_allowed`` and probes it per row. Here
that is a **broadcast hash left-outer equi-join** against the
domain-policy dimension followed by a vectorized predicate — the
idiomatic Spark shape for a fact↔small-dim lookup (the dim is
O(domains), orders of magnitude smaller than pages, so Catalyst picks
BroadcastHashJoin; we hint it explicitly so the plan is stable even
when dim-size stats are missing).

Keep-predicate truth table (verified against the reference fixtures,
SURVEY.md §2.3):

| condition                         | decision | reference line |
|-----------------------------------|----------|----------------|
| no/empty url                      | keep     | 465-467        |
| domain is null (unparseable url)  | drop     | 459 (`if domain and ...`) |
| domain not in policy table        | keep     | 459 default-allow |
| crawl_allowed = true              | keep     | 459            |
| crawl_allowed = false             | drop     | 459→463        |

Scale note: a broadcast join does NOT shuffle the pages fact table —
the plan stays a single map stage over the scan, which is exactly what
survives a 100× scale-up. Policy tables too big to broadcast (≫ tens of
millions of domains) would switch to a bucketed sort-merge join;
``join_policy(broadcast_dim=False)`` keeps that path available.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.functions.domains import (
    extract_domain_udf,
    with_domain_sql,
)
from fineweb_domain_analyzer_spark.functions.sqltext import sql_ident, sql_lit

# Drop-reason enum — unified across robots/quality/lang stages so the
# lineage histogram (metrics.py) has one vocabulary.
REASON_KEPT = "kept"
REASON_ROBOTS_DISALLOWED = "robots_disallowed"
REASON_ROBOTS_PATH_DISALLOWED = "robots_path_disallowed"
REASON_BAD_URL = "bad_url"

# Path component of a URL: everything after the authority, before ?/#.
# Kept as a plain regex (identical semantics in Spark and DuckDB) so the
# oracle can mirror it verbatim; an absent path normalizes to "/".
_URL_PATH_REGEX = r"^[^:/?#]+://[^/?#]*([^?#]*)"


def with_domain(pages: DataFrame, url_col: str = "url", exact: bool = True) -> DataFrame:
    """Add a ``domain`` column. ``exact=True`` uses the urlparse-exact
    pandas UDF (byte-parity with the reference); ``exact=False`` uses
    the JVM-side expression (whole-stage codegen, for clean inputs)."""
    if exact:
        return pages.withColumn("domain", extract_domain_udf(F.col(url_col)))
    return with_domain_sql(pages, url_col)


def join_policy(
    pages: DataFrame,
    policy: DataFrame,
    broadcast_dim: bool = True,
    include_paths: bool = False,
) -> DataFrame:
    """Left-join the policy dimension on domain. By default only
    ``crawl_allowed`` is consulted downstream (the reference records but
    never enforces disallowed_paths/crawl_delay —
    fineweb_analyzer.py:436-459); ``include_paths=True`` also carries
    ``disallowed_paths`` for the opt-in path-enforcement extension."""
    cols = ["domain AS _policy_domain", "crawl_allowed AS _policy_crawl_allowed"]
    if include_paths:
        cols.append("disallowed_paths AS _policy_disallowed_paths")
    dim = policy.selectExpr(*cols)
    if broadcast_dim:
        dim = F.broadcast(dim)
    return pages.join(dim, pages["domain"] == dim["_policy_domain"], "left").drop(
        "_policy_domain"
    )


def url_path(url: Column) -> Column:
    """URL path, normalized so the root page is always ``'/'``.

    JVM-side (regexp_extract → whole-stage codegen); deliberately a
    plain regex rather than ``F.parse_url`` so the DuckDB oracle can
    apply the exact same expression."""
    raw = F.regexp_extract(url, _URL_PATH_REGEX, 1)
    return F.when(raw == "", F.lit("/")).otherwise(raw)


def path_disallowed(path: Column, disallowed_paths: Column) -> Column:
    """RFC 9309 prefix match of ``path`` against a Disallow list.

    Semantics: a rule matches when the path starts with the rule string
    (``Disallow: /`` blocks everything; an empty rule list blocks
    nothing — the robots parser already drops empty ``Disallow:`` lines,
    functions/robots.py:70-75). Wildcards (``*``/``$``, a non-standard
    Google extension) are NOT interpreted; the reference's parser never
    emits them specially either (fineweb_analyzer.py:282-290 collects
    raw Disallow values). Fully JVM-side: ``exists`` + ``startswith``
    stay inside whole-stage codegen — no Python crossing, no shuffle."""
    paths = F.coalesce(disallowed_paths, F.array().cast("array<string>"))
    return F.exists(paths, lambda p: path.startswith(p))


def keep_predicate_sql(url: str, domain: str, crawl_allowed: str) -> str:
    """The F5 truth table as one SQL boolean expression over SQL text
    operands."""
    return (
        f"CASE WHEN {url} IS NULL OR {url} = '' THEN true "
        # reference line 459: `if domain and ...` — a null OR
        # empty-string domain (urlparse of a scheme-less/invalid url
        # yields netloc '') falls to the excluded branch.
        f"ELSE {domain} IS NOT NULL AND {domain} != '' "
        f"AND coalesce({crawl_allowed}, true) END"
    )


def drop_reason_sql(url: str, domain: str, crawl_allowed: str) -> str:
    return (
        f"CASE WHEN {url} IS NULL OR {url} = '' THEN {sql_lit(REASON_KEPT)} "
        f"WHEN {domain} IS NULL OR {domain} = '' THEN {sql_lit(REASON_BAD_URL)} "
        f"WHEN NOT coalesce({crawl_allowed}, true) "
        f"THEN {sql_lit(REASON_ROBOTS_DISALLOWED)} "
        f"ELSE {sql_lit(REASON_KEPT)} END"
    )


def label_pages(
    pages: DataFrame,
    policy: DataFrame,
    url_col: str = "url",
    exact_domain: bool = True,
    broadcast_dim: bool = True,
    enforce_paths: bool = False,
) -> DataFrame:
    """pages → pages + (domain, keep, drop_reason). Single map-side pass:
    scan → UDF/projection → broadcast join → predicate. No shuffle.

    ``enforce_paths=False`` (default) reproduces the reference bit-for-bit
    (it records disallowed_paths but never enforces them,
    fineweb_analyzer.py:436-459 — see SURVEY.md §2.3). ``enforce_paths=True``
    is the opt-in EXTENSION that additionally drops pages whose URL path
    prefix-matches a Disallow rule of an otherwise-allowed domain
    (drop_reason ``robots_path_disallowed``). Precedence: bad_url >
    robots_disallowed > robots_path_disallowed; the no-url ⇒ keep quirk
    is preserved. Still a single broadcast-join map stage — the path
    check is a codegen ``exists``/``startswith`` over the joined array."""
    return label_by_domain(
        with_domain(pages, url_col, exact=exact_domain),
        policy,
        url_col=url_col,
        broadcast_dim=broadcast_dim,
        enforce_paths=enforce_paths,
    )


def label_by_domain(
    pages: DataFrame,
    policy: DataFrame,
    url_col: str = "url",
    broadcast_dim: bool = True,
    enforce_paths: bool = False,
) -> DataFrame:
    """:func:`label_pages` for pages that already carry ``domain``: the
    policy join plus the keep/drop_reason predicates, without the domain
    pass (callers that compute ``domain`` once for several consumers)."""
    labeled = join_policy(
        pages, policy, broadcast_dim=broadcast_dim, include_paths=enforce_paths
    )
    operands = (sql_ident(url_col), "domain", "_policy_crawl_allowed")
    keep = F.expr(keep_predicate_sql(*operands))
    reason = F.expr(drop_reason_sql(*operands))
    drop_cols = ["_policy_crawl_allowed"]
    if enforce_paths:
        url = F.col(url_col)
        no_url = url.isNull() | (url == "")
        blocked = path_disallowed(url_path(url), F.col("_policy_disallowed_paths"))
        path_dropped = ~no_url & keep & blocked
        keep = keep & ~path_dropped
        reason = F.when(path_dropped, F.lit(REASON_ROBOTS_PATH_DISALLOWED)).otherwise(
            reason
        )
        drop_cols.append("_policy_disallowed_paths")
    return labeled.withColumns({"keep": keep, "drop_reason": reason}).drop(*drop_cols)


def stratified_hash_sample(
    df: DataFrame,
    rates: dict[str, int],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: int = 0,
    bucket_col: str | None = None,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff
    ``md5(id) mod 100 < rates[stratum]`` (percent). The curation use:
    rebalance a Zipf language mix (e.g. keep 50% of 'en', 25% of the
    rest) with a sample that is REPRODUCIBLE — same rows on every run,
    every engine, every cluster size — unlike ``df.sample``, whose
    output depends on partitioning. Hash-of-id also means a doc's
    membership never flips when unrelated rows are added, so holdout
    sets stay stable across corpus versions.

    Map-only: no shuffle, no RNG state; the hash-bucket expression is
    whole-stage-codegen JVM work, so this costs one projection at any
    scale. ``rates`` values are integer percents (0-100);
    strata absent from ``rates`` get ``default_rate``.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 100
    )
    rate: Column = F.lit(default_rate)
    for stratum, pct in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == stratum, F.lit(pct)).otherwise(rate)
    out = df.withColumn("_bucket", bucket).filter(F.col("_bucket") < rate)
    if bucket_col is None:
        return out.drop("_bucket")
    return out.withColumnRenamed("_bucket", bucket_col)


def rfc9309_path_allowed(
    path: Column, disallowed_paths: Column, allowed_paths: Column
) -> Column:
    """RFC 9309 §2.2.2 most-specific-match decision: among the rules
    whose literal prefix matches the path, the LONGEST wins; on equal
    length ``Allow`` wins; no matching rule ⇒ allowed. This is the
    modern-standard semantics the reference never applies (it only
    collects Disallow lines) and a strict upgrade over
    :func:`path_disallowed`'s any-Disallow-prefix rule — an
    ``Allow: /public/`` carve-out under a broader ``Disallow: /`` is
    honored here and ignored there.

    Matching is literal-prefix like ``path_disallowed`` (``*``/``$``
    wildcards out of scope, same documented contract). Fully JVM-side:
    filter + transform + array_max over the broadcast-joined rule
    arrays — whole-stage codegen, no Python, no shuffle.
    """
    empty = F.array().cast("array<string>")

    def longest_match(rules: Column) -> Column:
        hits = F.transform(
            F.filter(F.coalesce(rules, empty), lambda r: path.startswith(r)),
            lambda r: F.length(r),
        )
        return F.coalesce(F.array_max(hits), F.lit(-1))

    return longest_match(allowed_paths) >= longest_match(disallowed_paths)
