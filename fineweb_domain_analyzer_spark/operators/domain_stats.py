"""Per-domain aggregation — the reference's stage 2 (A1/A2/O1 of SURVEY §2.5).

Reference (/root/reference/fineweb_analyzer.py:115-244) streams rows
into a ``defaultdict(domain → {count, urls≤5, tld, first_seen,
last_seen})``. Spark shape: one hash aggregation with map-side partial
combine. Two divergences, both deliberate and documented:

* the reference's ``urls`` (first 5 in input order) and first/last_seen
  (input order) are nondeterministic under distribution; we order
  explicitly by (order_col) so results are stable (SURVEY §2.2 caveat);
* the reference falls back to ``datetime.now()`` when a row lacks a
  timestamp (P6); we take an injected ``run_ts`` literal instead so
  runs are reproducible.

Scale note: ``groupBy(domain)`` is the engine's one unavoidable
shuffle. Both variants bound per-key memory with a ``row_number``
window: the per-domain sort spills via Tungsten's external sorter, and
the url collect keeps only rows ranked ≤ 5, so no aggregation buffer
holds more than 5 candidates per key. Head domains are Zipf-heavy at
CC scale, so the skew-safe variant (``domain_stats_salted``)
additionally defuses single-task wall-clock skew with a two-phase
salted aggregation: partial per (domain, salt), final per domain.
count/min/max compose exactly; the top-5 url list composes because
each partial keeps its 5 smallest (order_col) candidates — the global
top-5 is a subset of the union of per-salt top-5s.

Both plans are built from SQL text (``functions/sqltext.py``): one
``selectExpr`` and one ``agg`` instead of a tree of Column objects,
each node of which costs a driver↔JVM round trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.functions.domains import extract_tld_sql
from fineweb_domain_analyzer_spark.functions.sqltext import sql_ident, sql_lit

_OUT_COLS = ("domain", "count", "urls", "tld", "first_seen", "last_seen")


def _ranked(
    pages: DataFrame,
    domain_col: str,
    url_col: str,
    order_col: str | None,
    ts_col: str | None,
    run_ts: str | None,
    salts: int | None = None,
) -> tuple[DataFrame, str]:
    """Rows with a non-empty domain as (domain, [_salt], _seen_ts, _rn,
    order_col, url_col): ``_rn`` ranks each row by (order_col, url_col)
    within its domain — within its (domain, _salt) with ``salts``. Also
    returns the SQL aggregate that collects a group's (ord, url)
    structs ranked ≤ 5. The struct's order field gets its own name:
    with the default order_col == url_col a bare struct would carry two
    ``url`` fields."""
    dom, url = sql_ident(domain_col), sql_ident(url_col)
    order = sql_ident(order_col or url_col)
    fallback = sql_lit(run_ts) if run_ts else "CAST(NULL AS STRING)"
    if ts_col is None:
        seen_ts = fallback
    else:
        # falsy check, not just null: the reference does
        # `record.get('timestamp') or now()` (fineweb_analyzer.py), so an
        # empty-string timestamp must also fall back to run_ts
        s = f"CAST({sql_ident(ts_col)} AS STRING)"
        seen_ts = f"coalesce(CASE WHEN {s} != '' THEN {s} END, {fallback})"
    df = pages.where(f"{dom} IS NOT NULL AND {dom} != ''")
    keys, cols = dom, [f"{dom} AS domain"]
    if salts is not None:
        # a column of its own, so the window's exchange on (domain,
        # _salt) also serves the per-salt groupBy
        df = df.selectExpr("*", f"pmod(xxhash64({url}), {sql_lit(salts)}) AS _salt")
        keys += ", _salt"
        cols.append("_salt")
    ranked = df.selectExpr(
        *cols,
        f"{seen_ts} AS _seen_ts",
        f"row_number() OVER (PARTITION BY {keys} ORDER BY {order}, {url}) AS _rn",
        # unaliased: an alias here would be computed below the window
        # and ship one more copy of the column through the shuffle
        *dict.fromkeys((order, url)),
    )
    top5 = f"collect_list(CASE WHEN _rn <= 5 THEN struct({order} AS ord, {url} AS url) END)"
    return ranked, top5


def domain_stats(
    pages: DataFrame,
    domain_col: str = "domain",
    url_col: str = "url",
    order_col: str | None = None,
    ts_col: str | None = None,
    run_ts: str | None = None,
) -> DataFrame:
    """pages(domain, url, [ts]) → (domain, count, urls, tld, first_seen,
    last_seen). Rows with null/empty domain are excluded, mirroring the
    reference's ``if url:`` / ``if domain:`` guards (lines 172-174).

    Bounded state by construction: ONE ``row_number`` window ranks each
    domain's rows by (order_col, url_col) — Tungsten's external sorter
    (spillable) does the per-domain ordering — and ONE groupBy then
    takes count/min/max over every row while its url collect keeps only
    the rows ranked ≤ 5, so every aggregation buffer holds at most 5
    candidates per domain: a Zipf head domain costs disk, never an OOM.
    The groupBy reuses the window's hash exchange, so the whole operator
    is still ONE shuffle. For 45%+ hot keys where even the spill-sort
    wall-time matters, use ``domain_stats_salted``.
    """
    ranked, top5 = _ranked(pages, domain_col, url_col, order_col, ts_col, run_ts)
    agg = ranked.groupBy("domain").agg(
        F.expr("count(1) AS count"),
        F.expr(f"transform(array_sort({top5}), s -> s.url) AS urls"),
        F.expr("min(_seen_ts) AS first_seen"),
        F.expr("max(_seen_ts) AS last_seen"),
    )
    return agg.withColumn("tld", extract_tld_sql(F.col("domain"))).select(
        *_OUT_COLS
    )


def domain_stats_salted(
    pages: DataFrame,
    n_salts: int = 16,
    domain_col: str = "domain",
    url_col: str = "url",
    order_col: str | None = None,
    ts_col: str | None = None,
    run_ts: str | None = None,
) -> DataFrame:
    """Skew-defused two-phase variant. Phase 1 ranks per (domain, salt)
    — head domains fan out over n_salts sort partitions — and phase 2
    merges the tiny per-salt partials. Results are identical to
    ``domain_stats`` (verified by tests on Zipf data).

    Bounded state by construction: the top-5 comes from a window
    ``row_number`` over (domain, salt) — Tungsten's external sorter
    spills to disk, unlike a collect_list aggregation buffer which must
    hold every url of the hottest key in memory — and every collect
    keeps at most 5 rows per salt."""
    ranked, top5 = _ranked(
        pages, domain_col, url_col, order_col, ts_col, run_ts, salts=n_salts
    )
    # already hash-partitioned by (domain, salt) from the window — this
    # groupBy adds no exchange; collects are capped at 5 rows per group
    partial = ranked.groupBy("domain", "_salt").agg(
        F.expr("count(1) AS _cnt"),
        F.expr(f"{top5} AS _cand"),
        F.expr("min(_seen_ts) AS _first"),
        F.expr("max(_seen_ts) AS _last"),
    )
    final = partial.groupBy("domain").agg(
        F.expr("sum(_cnt) AS count"),
        F.expr(
            "slice(transform(array_sort(flatten(collect_list(_cand))),"
            " s -> s.url), 1, 5) AS urls"
        ),
        F.expr("min(_first) AS first_seen"),
        F.expr("max(_last) AS last_seen"),
    )
    return final.withColumn("tld", extract_tld_sql(F.col("domain"))).select(
        *_OUT_COLS
    )


def distinct_domains(pages: DataFrame, domain_col: str = "domain") -> DataFrame:
    """Stage-3 input: the grouping keys (fineweb_analyzer.py:594)."""
    return (
        pages.filter(F.col(domain_col).isNotNull() & (F.col(domain_col) != ""))
        .select(F.col(domain_col).alias("domain"))
        .distinct()
    )


def domain_signature_terms(
    docs: DataFrame,
    domain_col: str = "source",
    tokens_col: str = "_tk",
    k: int = 10,
) -> DataFrame:
    """Per-domain SIGNATURE TERMS — tf-idf-style heavy hitters that
    characterize each site against the rest of the corpus (corpus
    exploration / topic-mix audits; the per-domain complement of the
    corpus-wide q34 vocabulary top-k).

    Each domain is one pseudo-document: ``tf`` counts the token's
    occurrences inside the domain, ``df`` counts the domains containing
    it, and the idf-ish score is the EXACT integer
    ``score_e4 = tf * 10000 // df`` — rare-elsewhere tokens rank above
    stopwords without a float log whose last ulp differs between
    engines (same determinism rule as the drift/mixture operators).
    Ties break on (tf desc, token asc) for a total order.

    Scale shape: explode → (domain, token) partial-count shuffle (key
    is content-salted by the token, so a Zipf head domain spreads);
    ``df`` is a second agg over the ALREADY-GROUPED (domain, token)
    frame — one row per pair, never the raw occurrences; the df join
    keys on the token (near-uniform); the final top-k is a row_number
    window per domain over its DISTINCT tokens, vocabulary-bounded
    (same per-group trade as the reference's top-5 URL list, A1).
    """
    from pyspark.sql.window import Window

    pairs = (
        docs.select(
            F.col(domain_col).alias("domain"),
            F.explode(F.col(tokens_col)).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("domain", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_counts = pairs.groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    # integral `div`, not floor(double): tf*10000 stays bigint end to
    # end, so the score is exact at any magnitude
    scored = pairs.join(df_counts, "token").withColumn(
        "score_e4", F.expr("(tf * 10000) div df").cast("bigint")
    )
    w = Window.partitionBy("domain").orderBy(
        F.col("score_e4").desc(), F.col("tf").desc(), F.col("token")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select("domain", "token", "tf", "df", "score_e4", "rnk")
    )
