"""Skew handling helpers — north-rule requirement.

Head domains in a Common-Crawl corpus follow a Zipf law: the hottest
key can carry orders of magnitude more rows than the median, so a
naive ``groupBy(domain)`` / join leaves one straggler reducer holding
the job. Two complementary tools:

* AQE (enabled in session.py) re-splits skewed shuffle partitions at
  runtime — the first line of defense, zero code.
* Explicit salting (here) for deterministic two-phase aggregation and
  for joins whose build side can be replicated.

``salted_agg`` generalizes operators/domain_stats.domain_stats_salted:
give it any algebraic aggregates (exprs that compose via a merge expr)
and it runs partial-per-salt → final-merge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, entropy_col: str) -> DataFrame:
    """Deterministic salt in [0, n_salts) from a high-entropy column
    (url, doc_id). xxhash64 is JVM-side and stable across runs."""
    return df.withColumn("_salt", F.pmod(F.xxhash64(F.col(entropy_col)), F.lit(n_salts)))


def salted_count(
    df: DataFrame, key_col: str, entropy_col: str, n_salts: int = 16
) -> DataFrame:
    """Two-phase count-per-key that never funnels a hot key through a
    single reducer. Equivalent to groupBy(key).count()."""
    partial = (
        with_salt(df, n_salts, entropy_col)
        .groupBy(key_col, "_salt")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    return partial.groupBy(key_col).agg(F.sum("_cnt").alias("cnt"))


def salted_agg(
    df: DataFrame,
    key_col: str,
    entropy_col: str,
    partial_aggs: dict[str, Column],
    merge_aggs: dict[str, Column],
    n_salts: int = 16,
) -> DataFrame:
    """General two-phase aggregation.

    partial_aggs: name → agg expr over raw rows (grouped by key+salt)
    merge_aggs:   name → agg expr over the partial columns (grouped by key)
    """
    partial = (
        with_salt(df, n_salts, entropy_col)
        .groupBy(key_col, "_salt")
        .agg(*[c.alias(n) for n, c in partial_aggs.items()])
    )
    return partial.groupBy(key_col).agg(
        *[c.alias(n) for n, c in merge_aggs.items()]
    )
