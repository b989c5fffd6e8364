"""Deterministic synthetic pages corpus (FIXTURES.md §1).

Generates the canonical ``pages(url, warc_ts, html, text, lang)`` table
fully distributed: ``spark.range(n)`` → pure Column expressions seeded
by the row id (xxhash64 with a fixed seed literal), so the same (n,
seed) always yields the same rows on any cluster size or partitioning —
no driver-side data, no Python RNG, no collect.

Domain popularity is Zipf-ish: domain index = floor(n_domains *
(u^alpha)) over a uniform hash u in [0,1) — head domains get a large
share, exercising the skew path for real.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_WORDS = (
    "the of and to in is it that for with page content web site data "
    "news article home about search free online best new more info "
    "service world time people year day good great small large"
).split()


def synth_pages(
    spark: SparkSession,
    n_rows: int,
    n_domains: int = 1000,
    seed: int = 42,
    zipf_alpha: float = 4.0,
    partitions: int | None = None,
    start: int = 0,
) -> DataFrame:
    """Deterministic pages table. All expressions JVM-side.

    ``start`` offsets the id range so successive calls generate
    disjoint url spaces — e.g. simulated incremental dump drops for the
    streaming ingest tests."""
    df = spark.range(
        start, start + n_rows, 1, partitions or spark.sparkContext.defaultParallelism
    )
    h = F.abs(F.xxhash64(F.col("id"), F.lit(seed)))
    u = (h % 1_000_000) / 1_000_000.0  # uniform-ish in [0,1)
    dom_idx = F.floor(F.lit(n_domains) * F.pow(u, F.lit(zipf_alpha))).cast("long")
    domain = F.concat(F.lit("host"), dom_idx.cast("string"), F.lit(".example.com"))
    # URL variety: www prefix, ports (incl. the :8080 quirk case), paths
    variant = h % 10
    prefix = F.when(variant < 4, F.lit("https://www.")).otherwise(F.lit("https://"))
    port = (
        F.when(variant == 7, F.lit(":8080"))
        .when(variant == 8, F.lit(":9090"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        prefix, domain, port, F.lit("/p/"), F.col("id").cast("string")
    )
    # text: 20-180 repeated-vocab words, deterministic per row, with
    # occasional PII and CJK blocks for the scrub/langid paths.
    n_words = (h % 161) + 20
    words = F.transform(
        F.sequence(F.lit(0), n_words.cast("int") - 1),
        lambda i: F.element_at(
            F.array(*[F.lit(w) for w in _WORDS]),
            (F.pmod(F.xxhash64(F.col("id"), i, F.lit(seed)), F.lit(len(_WORDS))) + 1).cast(
                "int"
            ),
        ),
    )
    base_text = F.array_join(words, " ")
    pii = (
        F.when(h % 17 == 0, F.concat(F.lit(" contact user"), F.col("id").cast("string"), F.lit("@example.com")))
        .when(h % 17 == 1, F.concat(F.lit(" ip 10.0."), (h % 200).cast("string"), F.lit(".7")))
        .when(h % 17 == 2, F.lit(" call (860) 649-7922"))
        .otherwise(F.lit(""))
    )
    cjk = F.when(h % 23 == 0, F.lit(" 這是一段中文測試文字內容")).otherwise(F.lit(""))
    # FIXTURES.md §1 coverage: toxicity-lexicon terms and repeated
    # boilerplate lines appear in a deterministic fraction of rows so
    # the scrub and dup-line operators do real work on the bench corpus
    tox = F.when(h % 29 == 0, F.lit(" badword1 spam")).otherwise(F.lit(""))
    rep = F.when(
        h % 19 == 0, F.lit("\nsubscribe to our newsletter\nsubscribe to our newsletter")
    ).otherwise(F.lit(""))
    text = F.concat(base_text, pii, cjk, tox, rep)
    ts = F.to_timestamp(
        F.from_unixtime(F.lit(1718150400) + (h % 864000))
    )  # 2024-06-12 ± 10 days
    lang = F.when(h % 23 == 0, F.lit("zh")).otherwise(F.lit("en"))
    # ~9% of rows ship text only as html bytes — with a trailing
    # invalid-utf8 run — so the decode-with-ignore pandas UDF is on the
    # bench hot path and byte-identity (errors='ignore' drops the tail)
    # is exercised at scale, per FIXTURES.md §1
    html = F.when(
        h % 11 == 3,
        F.concat(F.encode(text, "utf-8"), F.unhex(F.lit("FFFE80"))),
    ).otherwise(F.encode(text, "utf-8"))
    text_out = F.when(h % 11 == 3, F.lit(None).cast("string")).otherwise(text)
    return df.select(
        url.alias("url"),
        ts.alias("warc_ts"),
        html.alias("html"),
        text_out.alias("text"),
        lang.alias("lang"),
    )


def synth_policy_for_domains(
    spark: SparkSession, n_domains: int = 1000, deny_every: int = 7, cover_every: int = 2
) -> DataFrame:
    """Deterministic policy dimension covering a strict subset of the
    synthetic domains (every `cover_every`-th), denying every
    `deny_every`-th covered one — exercises default-allow + deny paths."""
    df = spark.range(0, n_domains, 1, 1).filter(F.col("id") % cover_every == 0)
    return df.select(
        F.concat(F.lit("host"), F.col("id").cast("string"), F.lit(".example.com")).alias(
            "domain"
        ),
        F.lit(True).alias("robots_exists"),
        (F.col("id") % deny_every != 0).alias("crawl_allowed"),
        F.lit(None).cast("double").alias("crawl_delay"),
        F.array().cast("array<string>").alias("disallowed_paths"),
        F.lit(None).cast("string").alias("error"),
        F.lit(None).cast("timestamp").alias("last_checked"),
        F.lit(None).cast("string").alias("robots_content"),
    )
