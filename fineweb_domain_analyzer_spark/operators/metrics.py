"""Run + lineage metrics — the reference's filter stats (A3), generalized.

Reference (/root/reference/fineweb_analyzer.py:480-485) emits one global
``{total_processed, filtered_kept, excluded_count, keep_ratio}``. The
north rule requires lineage (rows in/out) plus a drop-reason histogram.
``job.py`` collects both per split in the pass that writes (one
``Observation`` per split) and only reads back splits committed without
recorded counts.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_stats(labeled: DataFrame) -> DataFrame:
    """Global stats — exactly the reference's four fields.

    keep_ratio is ``round(kept/total*100, 2)`` (fineweb_analyzer.py:484).
    """
    return labeled.agg(
        F.count(F.lit(1)).alias("total_processed"),
        F.coalesce(F.sum(F.col("keep").cast("long")), F.lit(0)).alias("filtered_kept"),
        F.coalesce(F.sum((~F.col("keep")).cast("long")), F.lit(0)).alias(
            "excluded_count"
        ),
    ).select(
        "total_processed",
        "filtered_kept",
        "excluded_count",
        # reference line 484: ratio is 0 (not null/NaN) on empty input
        F.when(F.col("total_processed") == 0, F.lit(0.0))
        .otherwise(
            F.round(F.col("filtered_kept") / F.col("total_processed") * 100, 2)
        )
        .alias("keep_ratio"),
    )


def keep_ratio(kept: int, total: int) -> float:
    """``filter_stats``' keep_ratio for counts held on the driver:
    ``round(kept/total*100, 2)`` rounding half up like Spark's
    ``round``, 0.0 on empty input."""
    if total == 0:
        return 0.0
    pct = Decimal(repr(kept / total * 100))
    return float(pct.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def drop_reason_histogram(labeled: DataFrame) -> DataFrame:
    """Histogram over the unified drop_reason enum (robots/quality/lang)."""
    return labeled.groupBy("drop_reason").agg(F.count(F.lit(1)).alias("cnt"))


def curation_funnel(
    labeled: DataFrame,
    rates: dict[str, int],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    default_rate: int = 0,
) -> DataFrame:
    """Per-stage lineage for the standard curation cascade

        ingest → robots filter → exact dedup → stratified sample

    computed in ONE pass over the corpus: every doc is tagged with the
    furthest stage it survives, then a single partial-aggregating
    reduction + ``stack()`` unpivots into the 4-row funnel
    ``(stage_idx, stage, rows_out, dropped)``.

    The trick that keeps this one job instead of four: the exact-dedup
    canonical flag comes from a window over ``(md5(text), keep)`` —
    including ``keep`` in the partition key gives kept docs their own
    keep-first numbering without materializing a kept-only subplan, so
    dropped docs ride along to be counted rather than being re-scanned.
    Cost at any scale: one shuffle (the dedup window, keyed by content
    hash so it's skew-free by construction) + one map-side-combined agg
    to a 1-row frame. ``labeled`` must carry ``keep`` (from
    :func:`~fineweb_domain_analyzer_spark.operators.filtering.label_pages`).

    Sampling semantics are identical to ``stratified_hash_sample``
    (md5-of-id percent buckets, integer-percent ``rates`` per stratum).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col)), F.col("keep")).orderBy(id_col)
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 100
    )
    rate = F.lit(default_rate)
    for stratum, pct in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == stratum, F.lit(pct)).otherwise(rate)
    tagged = labeled.select(
        F.col("keep"),
        (F.col("keep") & (F.row_number().over(w) == 1)).alias("is_canon"),
        (bucket < rate).alias("sampled"),
    ).select(
        F.when(~F.col("keep"), F.lit(1))
        .when(~F.col("is_canon"), F.lit(2))
        .when(~F.col("sampled"), F.lit(3))
        .otherwise(F.lit(4))
        .alias("stage")
    )
    agg = tagged.agg(
        F.count(F.lit(1)).alias("n1"),
        F.coalesce(F.sum((F.col("stage") >= 2).cast("long")), F.lit(0)).alias("n2"),
        F.coalesce(F.sum((F.col("stage") >= 3).cast("long")), F.lit(0)).alias("n3"),
        F.coalesce(F.sum((F.col("stage") >= 4).cast("long")), F.lit(0)).alias("n4"),
    )
    return agg.selectExpr(
        """stack(4,
             1L, 'ingest',            n1, 0L,
             2L, 'robots_filter',     n2, n1 - n2,
             3L, 'exact_dedup',       n3, n2 - n3,
             4L, 'stratified_sample', n4, n3 - n4
           ) AS (stage_idx, stage, rows_out, dropped)"""
    )


def _fire_bits(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Project each rule condition to a non-null boolean fire bit.

    ``coalesce(cond, FALSE)`` mirrors the pipeline's permissive null
    semantics (plans/pipeline.py: a null feature never drops a doc), so
    an ablation row can never claim a drop the flagship didn't make.

    Rule names are spliced into generated ``stack()`` SQL and column
    aliases, so they must be plain identifiers — rejected up front
    rather than surfacing as an AnalysisException from the generated
    expression."""
    import re

    bad = [n for n in rules if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", n)]
    if bad:
        raise ValueError(
            f"rule names must be identifiers ([A-Za-z_][A-Za-z0-9_]*); got {bad!r}"
        )
    return df.select(
        *[
            F.coalesce(cond.cast("boolean"), F.lit(False)).alias(f"_f_{name}")
            for name, cond in rules.items()
        ]
    )


def rule_ablation(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Per-rule marginal analysis of a filter cascade — the standard
    curation-ablation audit (which rule does the work, which is
    redundant): for each named rule condition ("fires" = would drop),

    * ``fires``         — docs the rule fires on,
    * ``unique_drops``  — docs ONLY this rule fires on (= docs recovered
                          if the rule were removed from the cascade:
                          its marginal contribution),
    * ``total_docs`` / ``total_dropped`` — cascade-level denominators
      (constant across rows so shares are computable in place).

    Unlike ``drop_reason_histogram`` (which counts the PRECEDENCE
    winner), this evaluates every rule independently, so masked fires
    (e.g. a robots-dropped doc that is also gibberish) are visible.

    Scale shape: one map stage computing the fire bits (all codegen —
    the conditions are plain boolean exprs over already-computed
    feature columns) + one map-side-combined aggregation to a single
    row, then a driver-free ``stack`` unpivot. Zero extra shuffles at
    any corpus size; output is O(#rules) rows.
    """
    names = list(rules)
    if not names:
        raise ValueError("rules must not be empty")
    bits = _fire_bits(df, rules)
    n_fired: Column = sum(
        (F.col(f"_f_{n}").cast("int") for n in names), F.lit(0)
    )
    bits = bits.withColumn("_nf", n_fired)
    aggs = [
        F.count(F.lit(1)).alias("_total"),
        F.coalesce(
            F.sum((F.col("_nf") > 0).cast("long")), F.lit(0)
        ).alias("_dropped"),
    ]
    for n in names:
        aggs.append(
            F.coalesce(F.sum(F.col(f"_f_{n}").cast("long")), F.lit(0)).alias(
                f"_fires_{n}"
            )
        )
        aggs.append(
            F.coalesce(
                F.sum((F.col(f"_f_{n}") & (F.col("_nf") == 1)).cast("long")),
                F.lit(0),
            ).alias(f"_uniq_{n}")
        )
    one = bits.agg(*aggs)
    stack_args = ", ".join(
        f"'{n}', _fires_{n}, _uniq_{n}" for n in names
    )
    return one.selectExpr(
        f"stack({len(names)}, {stack_args}) AS (rule, fires, unique_drops)",
        "_total AS total_docs",
        "_dropped AS total_dropped",
    )


def rule_overlap(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Pairwise co-fire counts for the same rule set: one row per
    unordered pair ``(rule_a, rule_b, both_fire)`` with a < b in the
    dict's order. Together with :func:`rule_ablation`'s per-rule fires
    this gives the full overlap matrix (a high ``both_fire`` relative
    to the smaller ``fires`` means one rule is nearly subsumed by the
    other — a candidate to drop from the cascade).

    Same scale shape as ``rule_ablation``: fire-bit map stage + one
    1-row aggregation (O(#rules²) aggregate columns — rules are a
    handful, not data-sized) + ``stack``. Zero extra shuffles.
    """
    names = list(rules)
    if len(names) < 2:
        raise ValueError("rule_overlap needs at least two rules")
    bits = _fire_bits(df, rules)
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1 :]]
    aggs = [
        F.coalesce(
            F.sum((F.col(f"_f_{a}") & F.col(f"_f_{b}")).cast("long")),
            F.lit(0),
        ).alias(f"_b_{a}__{b}")
        for a, b in pairs
    ]
    one = bits.agg(*aggs)
    stack_args = ", ".join(f"'{a}', '{b}', _b_{a}__{b}" for a, b in pairs)
    return one.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS (rule_a, rule_b, both_fire)"
    )


def data_card(
    labeled: DataFrame,
    words_col: str = "word_count",
    lang_col: str = "langid",
) -> DataFrame:
    """Dataset data-card summary over a labeled pipeline output — the
    release-notes numbers (what a Hugging Face dataset card tables):

    * ``('overall', 'all')``        — total docs / total words
    * ``('decision', kept|dropped)``
    * ``('drop_reason', <reason>)`` — the full histogram (kept included)
    * ``('language_kept', <lang>)`` — language mix of the KEPT corpus

    Scale shape: ONE ``cube(drop_reason, lang)`` aggregation over the
    corpus (map-side partial agg; the cube result is O(reasons×langs)
    rows), and every section derives from that tiny frame — the corpus
    is scanned exactly once regardless of how many sections the card
    grows. Output columns: (section, key, docs, words).
    """
    # grouping_id, not key-null filters, distinguishes ROLLUP rows from
    # real NULL groups: a labeled output with langid=NULL rows would
    # otherwise double-count (the (reason, NULL-lang) real group and the
    # (reason, all-langs) rollup both have a null _lang key). Bit per
    # cube column, MSB = drop_reason: 3 = both rolled up (grand total),
    # 1 = lang rolled up (per-reason totals), 0 = both real.
    cube = labeled.cube("drop_reason", F.col(lang_col).alias("_lang")).agg(
        F.count(F.lit(1)).alias("docs"),
        F.coalesce(F.sum(F.col(words_col)), F.lit(0)).alias("words"),
        F.grouping_id().alias("_gid"),
    )
    overall = cube.filter(F.col("_gid") == 3).select(
        F.lit("overall").alias("section"),
        F.lit("all").alias("key"),
        "docs",
        "words",
    )
    by_reason = cube.filter(F.col("_gid") == 1)
    decision = (
        by_reason.withColumn(
            "key",
            F.when(F.col("drop_reason") == "kept", F.lit("kept")).otherwise(
                F.lit("dropped")
            ),
        )
        .groupBy("key")
        .agg(F.sum("docs").alias("docs"), F.sum("words").alias("words"))
        .select(F.lit("decision").alias("section"), "key", "docs", "words")
    )
    reasons = by_reason.select(
        F.lit("drop_reason").alias("section"),
        F.col("drop_reason").alias("key"),
        "docs",
        "words",
    )
    lang_kept = cube.filter(
        (F.col("_gid") == 0) & (F.col("drop_reason") == "kept")
    ).select(
        F.lit("language_kept").alias("section"),
        F.col("_lang").alias("key"),
        "docs",
        "words",
    )
    return overall.unionAll(decision).unionAll(reasons).unionAll(lang_kept)
