"""Custom stateful streaming operator: running per-domain stats.

The batch engine computes per-domain stats with one aggregation
(operators/domain_stats.py). In continuous ingest the same statistic
must ACCUMULATE across micro-batches — count and first/last-seen per
domain over everything ever ingested — which is exactly the shape
Structured Streaming's arbitrary-state API exists for:
``groupBy(domain).applyInPandasWithState``.

Why not a plain streaming groupBy().agg()? That works for count/max,
but arbitrary state generalizes to the statistics a curation pipeline
actually accretes per domain (quality-score EMAs, reservoir samples of
urls, robots-revalidation clocks) where the update function isn't an
algebraic aggregate. This module keeps the state minimal (count,
first_seen, last_seen) so the mechanics — state schema, Arrow batch
iteration, timeout handling, exactly-once resume from the checkpoint —
are the tested surface; richer state drops into ``_update`` without
touching the plan.

Scale notes: state lives in the state store keyed by domain —
per-partition, RocksDB-backed on real clusters, O(distinct domains)
not O(rows). The domain key space is Zipf-skewed but state size per
key is constant, so skew hits only the per-batch shuffle (the same
exchange the batch path salts; AQE skew-join handles the streaming
side). ``GroupStateTimeout.NoTimeout`` is deliberate: domain stats are
a permanent dimension, not a session — eviction would silently reset
counts. If the domain space ever outgrows the store, the fix is a
TTL policy (ProcessingTimeTimeout + re-seed from the batch table),
not unbounded growth.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType(
    [
        T.StructField("count", T.LongType()),
        T.StructField("first_seen", T.TimestampType()),
        T.StructField("last_seen", T.TimestampType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType()),
        T.StructField("count", T.LongType()),
        T.StructField("first_seen", T.TimestampType()),
        T.StructField("last_seen", T.TimestampType()),
    ]
)


def _update(
    key: Tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's rows for one domain into its state and
    emit the updated running stats (one row per updated domain per
    batch — update semantics)."""
    cnt, first, last = state.get if state.exists else (0, None, None)
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        cnt += len(pdf)
        ts = pdf["warc_ts"].dropna()
        if len(ts):
            lo, hi = ts.min(), ts.max()
            first = lo if first is None or lo < first else first
            last = hi if last is None or hi > last else last
    state.update((cnt, first, last))
    yield pd.DataFrame(
        {
            "domain": [key[0]],
            "count": [cnt],
            "first_seen": [first],
            "last_seen": [last],
        }
    )


def streaming_domain_stats(
    pages: DataFrame, domain_col: Any = None
) -> DataFrame:
    """Running per-domain (count, first_seen, last_seen) over a
    streaming pages frame. Emits the updated totals for every domain
    touched by each micro-batch; state persists in the checkpoint, so
    AvailableNow re-runs continue the counts instead of restarting
    them (tests/test_streaming_stateful.py proves that). The default
    key is ``extract_domain_udf``, the batch ``with_domain`` default, so
    a domain's streaming state and its batch stats share one key on
    every url."""
    if domain_col is None:
        from fineweb_domain_analyzer_spark.functions.domains import (
            extract_domain_udf,
        )

        domain_col = extract_domain_udf(F.col("url"))
    keyed = pages.select(
        domain_col.cast("string").alias("domain"), F.col("warc_ts")
    )
    return keyed.groupBy("domain").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
