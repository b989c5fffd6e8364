"""The full quality-filter pipeline — the engine's flagship plan.

Composes every north-rule stage over a pages table:

    scan → decode html (if text missing) → extract domain
         → broadcast-join domain policy → robots keep/drop
         → quality heuristics (Gopher/C4) → language ID
         → PII/toxicity scrub → unified keep + drop_reason
         → (write) + lineage metrics

Everything up to the metrics aggregation is ONE map stage: no shuffle,
no barrier — the shape that scales linearly with input splits. The
reference reads its input twice (stages 2 and 4 re-scan the JSONL,
fineweb_analyzer.py:586,600); here the domain-stats branch and the
label branch share one scan via DataFrame reuse.

Precedence of drop reasons mirrors a production corpus pipeline:
robots > bad_url > language > quality. A document dropped by robots is
never re-attributed to a quality rule, keeping the histogram stable as
rules evolve.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.functions.scrub import scrub_all
from fineweb_domain_analyzer_spark.functions.sqltext import sql_cols, sql_in, sql_lit
from fineweb_domain_analyzer_spark.functions.textfns import (
    decode_utf8_ignore_udf,
    with_langid,
    ws_tokens,
)
from fineweb_domain_analyzer_spark.operators.filtering import (
    REASON_BAD_URL,
    REASON_KEPT,
    REASON_ROBOTS_DISALLOWED,
    label_pages,
)
from fineweb_domain_analyzer_spark.operators.quality import (
    gopher_keep,
    with_quality_features,
)

REASON_LANGUAGE = "language_filtered"
REASON_QUALITY = "quality_filtered"
REASON_CLASSIFIER = "classifier_filtered"
REASON_PAGE_TYPE = "page_type_filtered"
REASON_DOC_SHAPE = "doc_shape_filtered"
#: every drop_reason quality_filter_pipeline can emit
DROP_REASONS = (
    REASON_KEPT,
    REASON_ROBOTS_DISALLOWED,
    REASON_BAD_URL,
    REASON_LANGUAGE,
    REASON_PAGE_TYPE,
    REASON_QUALITY,
    REASON_DOC_SHAPE,
    REASON_CLASSIFIER,
)


@dataclass
class PipelineConfig:
    allowed_langs: tuple[str, ...] = ("en", "zh", "de", "fr", "es")
    min_words: int = 5
    max_words: int = 1_000_000
    max_symbol_ratio: float = 0.5
    max_repeat_ratio: float = 0.9
    exact_domain: bool = True
    scrub: bool = True
    # opt-in trained-classifier gate (FineWeb-Edu-style serving): a
    # with_quality_score-compatible weights dict — e.g.
    # operators/training.py:train_quality_classifier(...).weights —
    # adds a quality_score column and drops docs scoring below
    # min_quality_score AFTER the heuristic gates (precedence:
    # robots > language > quality > classifier). None (default) keeps
    # the reference-parity plan byte-identical. Pure codegen
    # expressions, so the gate also works unchanged under Structured
    # Streaming (streaming/pipeline.py reuses this plan).
    quality_weights: dict | None = None
    min_quality_score: float = 0.5
    # opt-in page-type gate (operators/pagetype.py): drop docs whose
    # first-match-wins page_type is in this set — soft-404s, parked
    # domains, login/cookie walls are fluent boilerplate the quality
    # gates can't catch. () (default) keeps the reference-parity plan
    # byte-identical; when enabled the classification is a chained
    # rlike projection that fuses into the same single map stage (and
    # therefore works unchanged under Structured Streaming).
    # page_type_rules=None uses DEFAULT_PAGE_TYPE_RULES.
    drop_page_types: tuple[str, ...] = ()
    page_type_rules: list[tuple[str, str]] | None = None
    # opt-in Gopher doc-shape gate (operators/quality.py:
    # with_doc_shape_features): bullet/ellipsis line fractions,
    # alpha-word fraction, #/… symbol ratios at the paper thresholds,
    # attributed as drop_reason='doc_shape_filtered' below the core
    # quality rules. False (default) keeps reference parity; enabled,
    # the features are codegen expressions sharing the pipeline's one
    # tokenize pass — still a single map stage, streaming-safe.
    enforce_doc_shape: bool = False


def quality_filter_pipeline(
    pages: DataFrame, policy: DataFrame, cfg: PipelineConfig | None = None
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) + policy → labeled frame with
    columns: original + domain, langid, quality features, scrubbed_text,
    keep (bool), drop_reason (enum)."""
    cfg = cfg or PipelineConfig()
    df = pages
    if "text" in df.columns and "html" in df.columns:
        # gate the bytes BEFORE the UDF: rows that already have text ship
        # a null through Arrow instead of the full html payload, so both
        # the Arrow transfer and the Python decode cost scale with the
        # text-missing fraction (~1/11 on CC-style corpora), not with
        # total rows; coalesce semantics are unchanged
        df = df.withColumn(
            "text",
            F.coalesce(
                F.col("text"),
                decode_utf8_ignore_udf(
                    F.when(F.col("text").isNull(), F.col("html"))
                ),
            ),
        )
    labeled = label_pages(df, policy, exact_domain=cfg.exact_domain)
    labeled = labeled.withColumnsRenamed(
        {"keep": "_robots_keep", "drop_reason": "_robots_reason"}
    )

    # tokenize+lowercase once; langid and the quality features share the
    # array (regex split is the dominant per-row cost of both stages)
    labeled = labeled.withColumn("_toks_lw", ws_tokens(F.lower(F.col("text"))))
    labeled = with_langid(labeled, lower_tokens_col="_toks_lw")
    labeled = with_quality_features(labeled, lower_tokens_col="_toks_lw")
    if cfg.enforce_doc_shape:
        from fineweb_domain_analyzer_spark.operators.quality import (
            with_doc_shape_features,
        )

        labeled = with_doc_shape_features(labeled, lower_tokens_col="_toks_lw")
    labeled = labeled.drop("_toks_lw")
    # the reason chain is ONE SQL CASE (functions/sqltext.py): the keep
    # rules render as SQL text from SqlExpr operands
    q_keep = gopher_keep(
        *sql_cols(
            "word_count",
            "mean_word_len",
            "symbol_ratio",
            "stopword_density",
            "max_word_repeat_ratio",
        ),
        min_words=cfg.min_words,
        max_words=cfg.max_words,
        max_symbol_ratio=cfg.max_symbol_ratio,
        max_repeat_ratio=cfg.max_repeat_ratio,
    )
    whens = [
        (f"_robots_reason != {sql_lit(REASON_KEPT)}", "_robots_reason"),
        (f"NOT ({sql_in('langid', cfg.allowed_langs)})", sql_lit(REASON_LANGUAGE)),
    ]
    if cfg.drop_page_types:
        from fineweb_domain_analyzer_spark.operators.pagetype import (
            with_page_type,
        )

        # boilerplate page classes outrank the quality heuristics: a
        # parked/soft-404 page is attributed to its page type, not to
        # whichever Gopher rule it happens to also trip
        labeled = with_page_type(labeled, rules=cfg.page_type_rules)
        whens.append(
            (sql_in("page_type", cfg.drop_page_types), sql_lit(REASON_PAGE_TYPE))
        )
    whens.append(((~q_keep).sql, sql_lit(REASON_QUALITY)))
    if cfg.enforce_doc_shape:
        from fineweb_domain_analyzer_spark.operators.quality import (
            gopher_doc_shape_keep,
        )

        shape_keep = gopher_doc_shape_keep(
            *sql_cols(
                "bullet_start_frac",
                "ellipsis_end_frac",
                "alpha_word_frac",
                "hash_word_ratio",
                "ellipsis_word_ratio",
            )
        )
        whens.append(((~shape_keep).sql, sql_lit(REASON_DOC_SHAPE)))
    if cfg.quality_weights is not None:
        from fineweb_domain_analyzer_spark.operators.quality import (
            with_quality_score,
        )

        labeled = with_quality_score(labeled, weights=cfg.quality_weights)
        # null score (null text) is NOT classifier-dropped, mirroring
        # the heuristic gates' permissive null semantics
        clf_keep = f"quality_score >= {sql_lit(float(cfg.min_quality_score))}"
        whens.append((f"NOT ({clf_keep})", sql_lit(REASON_CLASSIFIER)))
    reason = " ".join(f"WHEN {cond} THEN {value}" for cond, value in whens)
    out = labeled.withColumn(
        "drop_reason", F.expr(f"CASE {reason} ELSE {sql_lit(REASON_KEPT)} END")
    )
    final = {"keep": F.expr(f"drop_reason = {sql_lit(REASON_KEPT)}")}
    if cfg.scrub:
        final["scrubbed_text"] = scrub_all(F.col("text"))
    return out.withColumns(final).drop("_robots_keep", "_robots_reason")


def write_pipeline_output(
    labeled: DataFrame,
    out_path: str,
    fmt: str = "parquet",
    max_records_per_file: int | None = None,
) -> None:
    """Partitioned sink (Iceberg in production: writeTo(...).append() on
    a table partitioned by drop_reason; parquet here).

    Partition key is drop_reason, not the boolean keep: readers get
    reason-level partition pruning (kept = drop_reason='kept'), and
    boolean partition values round-trip as strings on read — a type
    surprise drop_reason (already string) avoids.

    ``max_records_per_file`` caps rows per output file (Spark's
    maxRecordsPerFile) so shard size is bounded independently of the
    write-stage task layout — no repartition, no extra shuffle."""
    w = labeled.write.mode("overwrite")
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.partitionBy("drop_reason").format(fmt).save(out_path)
